"""Custom Python DataSource: streaming a TxTable's append tail with table
versions as offsets (exactly-once via immutable files + manifest log)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from h2outility_spark.sources.txtable_source import TxTableStreamDataSource
from h2outility_spark.storage_tx import TxTable


def kv(spark, pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs], "k int, v string")


def _kv_arrow_schema(with_cdc_meta: bool = False):
    import pyarrow as pa

    fields = [("k", pa.int32()), ("v", pa.string())]
    if with_cdc_meta:
        fields += [("_commit_version", pa.int64()), ("_sign", pa.int32())]
    return pa.schema(fields)


def _read_rows(reader, parts):
    """Flatten the reader's RecordBatch iterators back to Python tuples for
    the direct-construction tests below."""
    rows = []
    for p in parts:
        for b in reader.read(p):
            rows.extend(zip(*(c.to_pylist() for c in b.columns)))
    return rows


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(TxTableStreamDataSource)


def test_append_tail_streams_versions(spark, registered, tmp_path):
    tdir = str(tmp_path / "tail")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b")]))

    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    assert stream.schema.fieldNames() == ["k", "v"]
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("tail1")
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    try:
        q.processAllAvailable()
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM tail1").collect()}
        assert got == {(1, "a"), (2, "b")}

        # a running query picks up NEW versions; compaction emits nothing new
        table.append(kv(spark, [(3, "c")]))
        table.append(kv(spark, [(4, "d")]))
        table.compact_files(target_rows=1000, small_rows=1_000_000)
        q.processAllAvailable()
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM tail1").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
        assert spark.sql("SELECT * FROM tail1").count() == 4  # no re-emission
    finally:
        q.stop()


def test_append_tail_rejects_merge_tables(spark, registered, tmp_path):
    tdir = str(tmp_path / "merged")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a")]))
    table.merge_upsert(kv(spark, [(1, "A2")]))

    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("tail2")
        .option("checkpointLocation", str(tmp_path / "ckpt2")).start()
    )
    try:
        with pytest.raises(Exception, match="append-only"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_fresh_stream_on_vacuumed_table_bootstraps(spark, registered, tmp_path):
    """Review regression: a table whose early manifests were vacuumed must
    still serve a NEW reader — the first batch bootstraps from the oldest
    retained snapshot instead of chasing deleted manifests."""
    tdir = str(tmp_path / "vac")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(kv(spark, [(i, f"v{i}")]))
    table.vacuum(keep_versions=2, retention_seconds=0)  # manifests v0-v2 gone

    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("vtail")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        q.processAllAvailable()
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM vtail").collect()}
        assert got == {(i, f"v{i}") for i in range(5)}  # full current content

        table.append(kv(spark, [(9, "new")]))  # tail keeps flowing after bootstrap
        q.processAllAvailable()
        assert (9, "new") in {
            (r["k"], r["v"]) for r in spark.sql("SELECT * FROM vtail").collect()
        }
    finally:
        q.stop()


def test_fresh_stream_bootstraps_even_when_oldest_retained_op_is_merge(
    spark, registered, tmp_path
):
    """r12 ADVICE regression: a fresh tail reader bootstrapping at an
    oldest-retained version whose op is merge must serve the snapshot —
    bootstrap is a snapshot read, so the ops that PRODUCED the retained
    state are history the tail never replays and the append-only guard
    does not apply. (Only versions read as incremental diffs stay
    guarded.)"""
    tdir = str(tmp_path / "vmerge")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b")]))
    table.append(kv(spark, [(3, "c")]))
    table.merge_upsert(kv(spark, [(2, "B"), (4, "d")]))  # latest op = merge
    table.vacuum(keep_versions=1, retention_seconds=0)  # only the merge manifest survives

    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("vmtail")
        .option("checkpointLocation", str(tmp_path / "ckm")).start()
    )
    try:
        q.processAllAvailable()
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM vmtail").collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

        table.append(kv(spark, [(9, "new")]))  # tail keeps flowing after bootstrap
        q.processAllAvailable()
        assert (9, "new") in {
            (r["k"], r["v"]) for r in spark.sql("SELECT * FROM vmtail").collect()
        }
        # ...and a post-bootstrap merge still raises: the guard is intact
        # for versions read as incremental diffs.
        table.merge_upsert(kv(spark, [(1, "A")]))
        with pytest.raises(Exception, match="append-only"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_fresh_tail_streams_table_born_by_merge(spark, registered, tmp_path):
    """Round-13 self-review regression: version 0 is ALWAYS a snapshot
    (the diff from empty), so a table BORN by merge_upsert (v0 op='merge'
    — how every CDC replica table starts) must stream on the tail source;
    only a later merge trips the append-only guard."""
    tdir = str(tmp_path / "bornmerge")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.merge_upsert(kv(spark, [(1, "a"), (2, "b")]))  # v0: op='merge'
    table.append(kv(spark, [(3, "c")]))

    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("bmtail")
        .option("checkpointLocation", str(tmp_path / "ckbm")).start()
    )
    try:
        q.processAllAvailable()
        got = {(r["k"], r["v"]) for r in spark.sql("SELECT * FROM bmtail").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c")}
        table.merge_upsert(kv(spark, [(1, "A")]))  # a LATER merge still raises
        with pytest.raises(Exception, match="append-only"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_lagging_checkpoint_past_retention_errors_clearly(spark, registered, tmp_path):
    from h2outility_spark.sources.txtable_source import _added_files

    tdir = str(tmp_path / "lag")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(kv(spark, [(i, "x")]))
    table.vacuum(keep_versions=1, retention_seconds=0)
    with pytest.raises(ValueError, match="vacuum has"):
        _added_files(tdir, 1)  # a checkpointed offset pointing at a gone version


# -- CDC source: signed change rows for every op -----------------------------


@pytest.fixture(scope="module")
def cdc_registered(spark):
    from h2outility_spark.sources.txtable_source import TxTableCdcDataSource

    spark.dataSource.register(TxTableCdcDataSource)


def _drain_cdc(spark, tdir, out_name, ckpt):
    stream = spark.readStream.format("txtable_cdc").option("path", tdir).load()
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName(out_name)
        .option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {out_name}")


def test_cdc_streams_through_merge_and_delete(spark, cdc_registered, tmp_path):
    from h2outility_spark.sources.txtable_source import net_changes

    tdir = str(tmp_path / "cdc")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c")]))   # v0
    table.merge_upsert(kv(spark, [(2, "B2"), (4, "d")]))      # v1: update + insert
    table.delete_keys(kv(spark, [(3, "ignored")]).select("k"))  # v2

    signed = _drain_cdc(spark, tdir, "cdc1", str(tmp_path / "ck"))
    assert set(signed.columns) == {"k", "v", "_commit_version", "_sign"}

    # per-version: the merge version nets to exactly its CDF rows
    v1 = net_changes(signed.filter("_commit_version = 1"))
    got1 = {(r["k"], r["v"], r["_change_type"]) for r in v1.collect()}
    assert got1 == {(2, "b", "delete"), (2, "B2", "insert"), (4, "d", "insert")}
    v2 = net_changes(signed.filter("_commit_version = 2"))
    assert {(r["k"], r["v"], r["_change_type"]) for r in v2.collect()} == {
        (3, "c", "delete")
    }

    # telescoped: net over the WHOLE feed from empty == final snapshot as inserts
    total = net_changes(signed)
    got = {(r["k"], r["v"], r["_change_type"]) for r in total.collect()}
    assert got == {
        (1, "a", "insert"), (2, "B2", "insert"), (4, "d", "insert")
    }


def test_cdc_skips_compact_and_resumes(spark, cdc_registered, tmp_path):
    tdir = str(tmp_path / "cdccomp")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck1")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a")]))

    def drain(name):
        stream = spark.readStream.format("txtable_cdc").option("path", tdir).load()
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).queryName(name)
            .trigger(availableNow=True).start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    drain("cdcc1")
    table.append(kv(spark, [(2, "b")]))
    table.compact_files(target_rows=1000, small_rows=1_000_000)
    table.append(kv(spark, [(3, "c")]))
    drain("cdcc2")  # resumes past v0 through the same checkpoint
    rows = {
        (r["k"], r["v"], r["_commit_version"], r["_sign"])
        for r in spark.read.parquet(out).collect()
    }
    versions = {r[2] for r in rows}
    assert 2 not in versions, "a compact version is a pure rewrite: zero CDC rows"
    assert rows == {(1, "a", 0, 1), (2, "b", 1, 1), (3, "c", 3, 1)}  # no re-emission


def test_cdc_preserves_duplicate_multiplicity(spark, cdc_registered, tmp_path):
    from h2outility_spark.sources.txtable_source import net_changes

    tdir = str(tmp_path / "cdcdup")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (1, "a")]))  # a true duplicate row
    signed = _drain_cdc(spark, tdir, "cdcd", str(tmp_path / "ckd"))
    out = net_changes(signed).collect()
    assert len(out) == 2 and all(r["_change_type"] == "insert" for r in out)


def test_cdc_vacuum_bootstrap_and_checkpoint_guard(spark, cdc_registered, tmp_path):
    from h2outility_spark.sources.txtable_source import _TxCdcReader, _changed_files

    tdir = str(tmp_path / "cdcvac")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(kv(spark, [(i, f"v{i}")]))
    table.merge_upsert(kv(spark, [(0, "V0")]))  # v5
    table.vacuum(keep_versions=2, retention_seconds=0)

    reader = _TxCdcReader(tdir, ["k", "v"], _kv_arrow_schema(with_cdc_meta=True))
    start = reader.initialOffset()
    assert start["bootstrap"] is True
    parts = reader.partitions(start, reader.latestOffset())
    rows = _read_rows(reader, parts)
    # the bootstrap version itself emits only +1 (snapshot); later retained
    # versions (here the merge) may emit both signs
    boot_v = start["version"] + 1
    assert all(r[3] == 1 for r in rows if r[2] == boot_v)
    # Python-side multiset net == the final snapshot
    from collections import Counter

    net = Counter()
    for k, v, _ver, sign in rows:
        net[(k, v)] += sign
    final = {kv_ for kv_, n in net.items() if n > 0}
    assert final == {(i, f"v{i}") for i in range(1, 5)} | {(0, "V0")}

    # a checkpointed reader pointing into the vacuumed gap must refuse
    with pytest.raises(ValueError, match="fresh checkpoint"):
        _changed_files(tdir, 1)


def test_cdc_rejects_reserved_column_names(spark, cdc_registered, tmp_path):
    # a table owning _sign (or _commit_version) would have it silently
    # shadowed by the feed metadata — the source must refuse at stream start
    tdir = str(tmp_path / "cdcres")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(
        spark.createDataFrame([Row(k=1, _sign=5)], "k int, _sign int")
    )
    with pytest.raises(Exception, match="reserve"):
        spark.readStream.format("txtable_cdc").option("path", tdir).load()


def test_cdc_evolved_schema_nullfills_old_files(spark, cdc_registered, tmp_path):
    from h2outility_spark.sources.txtable_source import net_changes

    tdir = str(tmp_path / "cdcevo")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b")]))
    evolved = spark.createDataFrame([Row(k=2, v="B2", extra=7)], "k int, v string, extra int")
    table.merge_upsert(evolved, evolve_schema=True)

    signed = _drain_cdc(spark, tdir, "cdce", str(tmp_path / "cke"))
    assert set(signed.columns) == {"k", "v", "extra", "_commit_version", "_sign"}
    total = net_changes(signed)
    got = {(r["k"], r["v"], r["extra"]) for r in total.filter("_change_type = 'insert'").collect()}
    assert got == {(1, "a", None), (2, "B2", 7)}


def test_changes_equals_net_cdc_feed_for_every_version_pair(spark, cdc_registered, tmp_path):
    """The batch feed and the stream feed agree: for every pair a < b,
    TxTable.changes(a, b) equals net_changes over the txtable_cdc rows
    with _commit_version in (a, b], as multisets, across append, merge,
    delete, compact, restore and an add-column merge."""
    from collections import Counter

    from pyspark.sql import functions as F

    from h2outility_spark.sources.txtable_source import net_changes

    tdir = str(tmp_path / "cdceq")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    table.append(kv(spark, [(4, "d"), (4, "d")]))
    table.merge_upsert(kv(spark, [(2, "B"), (5, "e")]))
    table.delete_keys(kv(spark, [(3, "")]).select("k"))
    table.compact_files(target_rows=1000, small_rows=1_000_000)
    table.restore(1)
    evolved = spark.createDataFrame([Row(k=1, v="A", extra=7)], "k int, v string, extra int")
    table.merge_upsert(evolved, evolve_schema=True)
    assert [h["op"] for h in table.history()] == [
        "append", "append", "merge", "delete", "compact", "restore", "merge"
    ]

    signed = _drain_cdc(spark, tdir, "cdceq", str(tmp_path / "ck"))
    version = F.col("_commit_version")

    def bag(df, cols):
        return Counter(tuple(r) for r in df.select(*cols).collect())

    for b in range(1, table.latest_version() + 1):
        for a in range(b):
            want = table.changes(a, b)
            got = net_changes(signed.filter((version > a) & (version <= b)))
            assert bag(got, want.columns) == bag(want, want.columns), (a, b)


def test_cdc_max_versions_per_batch_bounds_catchup(spark, cdc_registered, tmp_path):
    """Admission control: with maxVersionsPerBatch=1, a 3-commit backlog
    drains in ceil(3/1)=3 micro-batches — one version per batch, in order —
    and the union of emitted rows is identical to an unbounded one-drain
    (bounding only splits work, never changes it)."""
    tdir = str(tmp_path / "cdcrate")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(3):
        table.append(kv(spark, [(i, f"v{i}")]))

    def drain(opts, ckpt):
        batches = []
        reader = spark.readStream.format("txtable_cdc").option("path", tdir)
        for k, v in opts.items():
            reader = reader.option(k, v)

        def sink(df, bid):
            batches.append(sorted({r["_commit_version"] for r in df.collect()}))

        q = (
            reader.load().writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return [b for b in batches if b]

    bounded = drain({"maxVersionsPerBatch": "1"}, str(tmp_path / "ckb"))
    assert bounded == [[0], [1], [2]]  # one version per micro-batch, in order
    unbounded = drain({}, str(tmp_path / "cku"))
    assert sorted(v for b in unbounded for v in b) == [0, 1, 2]
    assert len(unbounded) == 1  # the telescoped baseline for contrast


def test_max_versions_offsets_never_skip_and_cap(tmp_path, spark):
    """Offset-level law for both sources' shared mixin: with a cap of 2
    over a 5-version backlog, successive latestOffset calls advance
    [1, 3, 4] — every version visited exactly once, none skipped."""
    from h2outility_spark.sources.txtable_source import _TxVersionOffsets

    tdir = str(tmp_path / "offcap")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(kv(spark, [(i, "x")]))

    off = _TxVersionOffsets(tdir, max_versions_per_batch=2)
    start = off.initialOffset()
    assert start["version"] == -1
    seen = []
    for _ in range(3):
        seen.append(off.latestOffset()["version"])
    assert seen == [1, 3, 4]
    # caught up: latestOffset stays put, no phantom batches
    assert off.latestOffset()["version"] == 4

    # The REAL fresh-start order (verified vs pyspark 4.1.2): the engine
    # polls latestOffset before initialOffset — the cap must hold there too.
    off2 = _TxVersionOffsets(tdir, max_versions_per_batch=2)
    assert off2.latestOffset()["version"] == 1

    # Checkpoint-resume order: the engine replays the last planned batch
    # through partitions() before its first poll; base re-learned from end.
    off3 = _TxVersionOffsets(tdir, max_versions_per_batch=2)
    off3._advance_base(3)  # what partitions({...3}, {...3}) does on resume
    assert off3.latestOffset()["version"] == 4

    # A planned end behind start is refused loudly in partitions (guards
    # exactly-once if a future engine reorders calls).
    from h2outility_spark.sources.txtable_source import _TxCdcReader
    import pytest as _pytest

    rdr = _TxCdcReader(tdir, ["k", "v"], _kv_arrow_schema(with_cdc_meta=True))
    with _pytest.raises(ValueError, match="behind"):
        rdr.partitions({"version": 3}, {"version": 1})


def test_max_versions_per_batch_option_validation(spark, cdc_registered, tmp_path):
    tdir = str(tmp_path / "optbad")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a")]))
    for i, bad in enumerate(("0", "-3", "two")):
        q = None
        with pytest.raises(Exception, match="maxVersionsPerBatch"):
            try:
                q = (
                    spark.readStream.format("txtable_cdc").option("path", tdir)
                    .option("maxVersionsPerBatch", bad).load()
                    .writeStream.format("memory").queryName(f"optbad{i}")
                    .option("checkpointLocation", str(tmp_path / f"ck{i}")).start()
                )
                q.processAllAvailable()
            finally:
                if q is not None:
                    q.stop()


def test_max_bytes_per_batch_budgets_and_progresses(spark, tmp_path):
    """Byte-based admission control: versions are admitted until their
    manifest-stat ADDED bytes spend the budget; a budget smaller than any
    single version still advances one version per batch (progress is
    guaranteed). Manifest metadata only — no data IO in the walk."""
    from h2outility_spark.sources.txtable_source import _TxVersionOffsets, _added_bytes

    tdir = str(tmp_path / "bytecap")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(4):
        table.append(kv(spark, [(i, "x" * 50)]))
    sizes = [_added_bytes(tdir, v) for v in range(4)]
    assert all(b > 0 for b in sizes)

    off = _TxVersionOffsets(tdir, max_bytes_per_batch=sizes[0] + sizes[1])
    off.initialOffset()
    assert [off.latestOffset()["version"] for _ in range(3)] == [1, 3, 3]

    tiny = _TxVersionOffsets(tdir, max_bytes_per_batch=1)
    tiny.initialOffset()
    assert [tiny.latestOffset()["version"] for _ in range(4)] == [0, 1, 2, 3]

    # Composes with the version cap: the tighter constraint wins.
    both = _TxVersionOffsets(
        tdir, max_versions_per_batch=1, max_bytes_per_batch=sizes[0] + sizes[1]
    )
    both.initialOffset()
    assert both.latestOffset()["version"] == 0


def test_added_bytes_skips_compact_and_counts_snapshot(spark, tmp_path):
    from h2outility_spark.sources.txtable_source import _added_bytes

    tdir = str(tmp_path / "bytecompact")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b")]))  # v0: full snapshot bytes
    table.append(kv(spark, [(3, "c")]))  # v1
    table.compact_files(target_rows=1000, small_rows=1_000_000)  # v2: pure rewrite
    assert _added_bytes(tdir, 0) > 0
    assert _added_bytes(tdir, 1) > 0
    assert _added_bytes(tdir, 2) == 0  # compact: no net change, zero budget spend


def test_added_bytes_charges_bootstrap_at_compact_version(spark, tmp_path):
    """A snapshot bootstrap AT a compact version must spend byte budget:
    once vacuum makes the compact the oldest retained manifest, a fresh
    reader's _changed_files emits its full compacted file set, so
    _added_bytes must charge it — the 'compact ⇒ 0' short-circuit only
    applies to incremental diffs (parent manifest still present)."""
    from h2outility_spark.sources.txtable_source import _added_bytes, _changed_files

    tdir = str(tmp_path / "bytecompactboot")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a"), (2, "b")]))  # v0
    table.append(kv(spark, [(3, "c")]))  # v1
    table.compact_files(target_rows=1000, small_rows=1_000_000)  # v2: rewrite
    table.append(kv(spark, [(4, "d")]))  # v3
    assert _added_bytes(tdir, 2) == 0  # incremental diff: still free
    table.vacuum(keep_versions=2, retention_seconds=0)  # drops v0, v1
    emitted = _changed_files(tdir, 2, allow_bootstrap=True)
    assert emitted and all(sign == 1 for _p, sign in emitted)
    assert _added_bytes(tdir, 2) > 0  # bootstrap batch is now bounded by the cap


def test_cdc_starting_version_changes_only(spark, cdc_registered, tmp_path):
    """startingVersion=N (Delta-CDF semantics): the feed begins at version
    N read as an incremental diff — NO snapshot bootstrap, the
    changes-only contract for replicas whose initial state arrived
    out-of-band."""
    tdir = str(tmp_path / "cdcsv")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(4):
        table.append(kv(spark, [(i, f"v{i}")]))  # v0..v3

    stream = (
        spark.readStream.format("txtable_cdc").option("path", tdir)
        .option("startingVersion", "2").load()
    )
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("cdcsv")
        .option("checkpointLocation", str(tmp_path / "cksv")).start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["k"], r["_commit_version"], r["_sign"])
            for r in spark.sql("SELECT * FROM cdcsv").collect()
        }
        assert rows == {(2, 2, 1), (3, 3, 1)}  # v0/v1 rows never emitted
    finally:
        q.stop()


def test_starting_version_past_latest_waits(spark, cdc_registered, tmp_path):
    tdir = str(tmp_path / "cdcfuture")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a")]))  # v0

    stream = (
        spark.readStream.format("txtable_cdc").option("path", tdir)
        .option("startingVersion", "2").load()
    )
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("cdcfut")
        .option("checkpointLocation", str(tmp_path / "ckfut")).start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM cdcfut").count() == 0  # nothing yet
        table.append(kv(spark, [(2, "b")]))  # v1 — still before the start
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM cdcfut").count() == 0
        table.append(kv(spark, [(3, "c")]))  # v2 — the pinned start arrives
        q.processAllAvailable()
        rows = {
            (r["k"], r["_commit_version"]) for r in spark.sql("SELECT * FROM cdcfut").collect()
        }
        assert rows == {(3, 2)}
    finally:
        q.stop()


def test_starting_version_vacuumed_parent_errors(spark, cdc_registered, tmp_path):
    """A startingVersion whose parent manifest was vacuumed is
    unreconstructable as a diff — the stream must error, never silently
    snapshot (that would duplicate the replica's out-of-band state)."""
    tdir = str(tmp_path / "cdcsvvac")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(kv(spark, [(i, "x")]))
    table.vacuum(keep_versions=1, retention_seconds=0)  # only v4 retained

    q = (
        spark.readStream.format("txtable_cdc").option("path", tdir)
        .option("startingVersion", "4").load()
        .writeStream.outputMode("append").format("memory").queryName("cdcsvv")
        .option("checkpointLocation", str(tmp_path / "cksvv")).start()
    )
    with pytest.raises(Exception, match="vacuum|fresh checkpoint"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_checkpointed_reader_never_rebootstraps_after_vacuum(spark, registered, tmp_path):
    """Review regression (exactly-once hole): a CHECKPOINTED reader whose
    offset's successor lost its parent manifest to vacuum must ERROR, not
    silently re-emit the whole table as duplicates. Only a fresh reader
    (offset minted by initialOffset, bootstrap flag set) may take the
    full-snapshot branch."""
    from h2outility_spark.sources.txtable_source import _TxAppendTailReader

    tdir = str(tmp_path / "dupvac")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(6):
        table.append(kv(spark, [(i, "x")]))
    table.vacuum(keep_versions=2, retention_seconds=0)  # manifests v0-v3 gone

    reader = _TxAppendTailReader(tdir, ["k", "v"], _kv_arrow_schema())
    # Checkpointed offset {version: 3}: v4 exists but its parent v3 is gone.
    # Pre-fix this emitted v4's FULL snapshot (rows 0..4 again) = duplicates.
    with pytest.raises(ValueError, match="duplicates"):
        reader.partitions({"version": 3}, {"version": 5})

    # The same gap IS servable to a genuinely fresh reader: initialOffset
    # carries the bootstrap flag and the first batch snapshots v4.
    start = reader.initialOffset()
    assert start == {"version": 3, "bootstrap": True}
    parts = reader.partitions(start, {"version": 5})
    rows = set(_read_rows(reader, parts))
    assert rows == {(i, "x") for i in range(6)}  # snapshot(v4) + v5's append

def test_added_bytes_charges_full_snapshot_when_parent_vacuumed(spark, tmp_path):
    """ADVICE r13 regression: when version v's PARENT manifest was vacuumed,
    a fresh capped reader reads v as a FULL SNAPSHOT bootstrap — so the byte
    budget must charge v's whole file set, not 0 (charging 0 admitted the
    entire snapshot plus further versions in one batch under
    maxBytesPerBatch)."""
    from h2outility_spark.sources.txtable_source import _TxVersionOffsets, _added_bytes

    tdir = str(tmp_path / "bytevac")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(4):
        table.append(kv(spark, [(i, "x" * 50)]))  # v0..v3, one file each
    diff_bytes = _added_bytes(tdir, 2)  # incremental diff: one file
    full_state = sum(_added_bytes(tdir, v) for v in range(3))  # all files in v2

    table.vacuum(keep_versions=2, retention_seconds=0)  # v2, v3 retained
    assert _added_bytes(tdir, 2) == full_state  # bootstrap charges everything
    assert _added_bytes(tdir, 2) > diff_bytes

    # The cap now bounds the bootstrap batch: the snapshot alone overspends
    # a one-diff budget, so the first batch admits ONLY v2 (progress floor),
    # v3 waits for the second — pre-fix both landed in one batch.
    off = _TxVersionOffsets(tdir, max_bytes_per_batch=diff_bytes)
    off.initialOffset()
    assert [off.latestOffset()["version"] for _ in range(2)] == [2, 3]


def test_tail_bootstrap_nullfills_pre_evolution_files(spark, registered, tmp_path):
    """ADVICE r13 regression: a tail bootstrap can carry files written
    BEFORE an add-column schema evolution; read() must null-fill the
    missing column like snapshot()/changes() and the CDC reader do, not
    let pq.read_table raise on the absent name."""
    tdir = str(tmp_path / "tailevo")
    table = TxTable(spark, tdir, key_cols=["k"])
    table.append(kv(spark, [(1, "a")]))  # v0: pre-evolution file, never rewritten
    table.append(kv(spark, [(2, "b")]))  # v1
    evolved = spark.createDataFrame(
        [Row(k=2, v="B2", extra=7)], "k int, v string, extra int"
    )
    table.merge_upsert(evolved, evolve_schema=True)  # v2: rewrites only v1's file
    table.vacuum(keep_versions=1, retention_seconds=0)  # only v2 retained

    # Fresh reader: snapshot-bootstrap of v2's FULL file set under the
    # evolved schema — includes v0's (k, v)-only file.
    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
    assert stream.schema.fieldNames() == ["k", "v", "extra"]
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName("tailevo")
        .option("checkpointLocation", str(tmp_path / "ckte")).start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["k"], r["v"], r["extra"])
            for r in spark.sql("SELECT * FROM tailevo").collect()
        }
        assert got == {(1, "a", None), (2, "B2", 7)}
    finally:
        q.stop()


def test_cdc_replica_skips_marker_on_empty_batch(spark, tmp_path):
    """ADVICE r13 regression: a no-data micro-batch (default-trigger
    heartbeat) must not commit a batch marker — the ledger's committed ids
    certify the number of DATA batches, so spurious empty batches may not
    inflate it."""
    import os

    from h2outility_spark.streaming.incremental import BatchLedger
    from h2outility_spark.workload_streaming import _cdc_replica_runner

    root = str(tmp_path / "emptyb")
    cdc_schema = "k int, v string, _commit_version bigint, _sign int"
    src, replica, drain = _cdc_replica_runner(spark, root, "k")
    ledger = BatchLedger(os.path.join(root, "applied"))

    drain.handle(spark.createDataFrame([], cdc_schema), 99)
    assert not ledger.applied(99)
    assert ledger.ids() == []

    data = spark.createDataFrame([(1, "a", 0, 1)], cdc_schema)
    drain.handle(data, 100)
    assert ledger.ids() == [100]
    assert {(r["k"], r["v"]) for r in replica.snapshot().collect()} == {(1, "a")}
