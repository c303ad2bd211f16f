"""Transactional parquet table (storage_tx.TxTable): snapshot isolation,
atomic manifest commits, copy-on-write MERGE with file pruning, time
travel, rollback, conflict detection, vacuum."""

from __future__ import annotations

import ast
import glob
import json
import os
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

from h2outility_spark.storage_tx import (
    _COMMIT_ATTEMPTS,
    CommitConflict,
    TxTable,
    _manifest_path,
    read_segment,
)


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def kv(spark, pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs], "k int, v string")


@pytest.fixture()
def table(spark, tmp_path):
    return TxTable(spark, str(tmp_path / "t"), key_cols=["k"])


def test_append_overwrite_snapshot_and_history(spark, table):
    v0 = table.append(kv(spark, [(1, "a"), (2, "b")]))
    v1 = table.append(kv(spark, [(3, "c")]))
    assert (v0, v1) == (0, 1)
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "b"), (3, "c")]
    assert rows_of(table.snapshot(version=0)) == [(1, "a"), (2, "b")]  # time travel
    v2 = table.overwrite(kv(spark, [(9, "z")]))
    assert rows_of(table.snapshot()) == [(9, "z")]
    assert [h["op"] for h in table.history()] == ["append", "append", "overwrite"]
    assert table.latest_version() == v2 == 2


def test_merge_upsert_replaces_keeps_inserts(spark, table):
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    table.merge_upsert(kv(spark, [(2, "B2"), (4, "d")]))
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
    # merge into empty table = insert
    t2 = TxTable(spark, table.table_dir + "2", key_cols=["k"])
    t2.merge_upsert(kv(spark, [(7, "x")]))
    assert rows_of(t2.snapshot()) == [(7, "x")]


@pytest.mark.slow
def test_merge_prunes_disjoint_files(spark, table):
    """Files whose key range cannot overlap the updates must be carried
    over BY REFERENCE (same path in the new manifest), not rewritten."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))  # file A: k in [1,2]
    table.append(kv(spark, [(100, "x"), (200, "y")]).coalesce(1))  # file B: k in [100,200]
    before = {e["path"]: e for e in table.files()}
    file_a = next(p for p, e in before.items() if e["min"]["k"] == 1)
    file_b = next(p for p, e in before.items() if e["min"]["k"] == 100)

    table.merge_upsert(kv(spark, [(150, "X")]).coalesce(1))
    after = {e["path"] for e in table.files()}
    assert file_a in after, "disjoint file must survive untouched"
    assert file_b not in after, "overlapping file must be rewritten"
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "b"), (100, "x"), (150, "X"), (200, "y")]


def test_commit_conflict_and_append_retry(spark, table, monkeypatch):
    table.append(kv(spark, [(1, "a")]))
    base = table.latest_version()
    segs = table.manifest()["segments"]
    # Simulate a real race: this writer reads latest=base, but another
    # writer publishes base+1 before our os.link lands. Freeze THIS
    # writer's view at base, then pre-create base+1.
    racing = dict(table.manifest(), version=base + 1, parent=base, op="append")
    with open(_manifest_path(table.table_dir, base + 1), "w") as f:
        json.dump(racing, f)
    with pytest.raises(CommitConflict):
        table._commit(segs, "`k` int, `v` string", "append", base)
    # Unfrozen, append sees the racer's snapshot and lands after it.
    v = table.append(kv(spark, [(2, "b")]))
    assert v == base + 2
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "b")]


def test_concurrent_appends_both_land(spark, table):
    """Two writers appending at the same time: the commit race is real
    (both read the same parent), retry resolves it, no rows are lost and
    the versions are distinct."""
    import threading

    table.append(kv(spark, [(0, "base")]))
    errs = []

    def writer(tag):
        try:
            table.append(kv(spark, [(ord(tag), tag)]))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b", "c")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert table.latest_version() == 3  # base + three appends, distinct versions
    assert rows_of(table.snapshot()) == [(0, "base"), (97, "a"), (98, "b"), (99, "c")]


def test_staged_files_invisible_until_commit(spark, table):
    table.append(kv(spark, [(1, "a")]))
    snap_before = rows_of(table.snapshot())
    # stage data files with NO manifest commit — readers must not see them
    table._stage_files(kv(spark, [(99, "ghost")]))
    assert rows_of(table.snapshot()) == snap_before


def test_restore_is_forward_rollback(spark, table):
    table.append(kv(spark, [(1, "a")]))
    table.overwrite(kv(spark, [(2, "b")]))
    v = table.restore(0)
    assert v == 2
    assert rows_of(table.snapshot()) == [(1, "a")]
    assert [h["op"] for h in table.history()][-1] == "restore"


def test_vacuum_reclaims_unreferenced_files(spark, table):
    table.append(kv(spark, [(1, "a")]))
    table.overwrite(kv(spark, [(2, "b")]))  # v0's file now only referenced by v0
    table._stage_files(kv(spark, [(3, "orphan")]))  # never committed
    # retention 0 = caller asserts exclusive access (no in-flight writers)
    deleted = table.vacuum(keep_versions=1, retention_seconds=0)
    assert len(deleted) == 2
    assert rows_of(table.snapshot()) == [(2, "b")]
    n_files = len(glob.glob(os.path.join(table.table_dir, "data", "*.parquet")))
    assert n_files == 1


def test_vacuum_retention_spares_inflight_staged_files(spark, table):
    """The retention window must keep files a concurrent writer has staged
    but not yet committed — deleting them would let the writer publish a
    manifest referencing missing files (a permanently corrupt snapshot)."""
    table.append(kv(spark, [(1, "a")]))
    staged = table._stage_files(kv(spark, [(99, "inflight")]))  # writer mid-commit
    deleted = table.vacuum(keep_versions=1)  # default 1 h retention
    assert deleted == []
    # the in-flight writer can still finish its commit and read it back
    new_segs = table._write_segments(staged)
    m = table.manifest()
    v = table._commit(m["segments"] + new_segs, m["schema"], "append", m["version"])
    assert rows_of(table.snapshot(v)) == [(1, "a"), (99, "inflight")]


def _manifest_dir_files(table):
    return {
        os.path.basename(p): os.path.getsize(p)
        for p in glob.glob(os.path.join(table.table_dir, "_manifests", "*.json"))
    }


def test_commit_payload_is_o_changed_not_o_table(spark, table):
    """Manifest segmentation: a small append against a many-file table
    serializes O(changed files) bytes (one tiny segment + a descriptor
    manifest), NOT the full file inventory."""
    big = spark.range(4000).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
    table.append(big.repartition(40))  # 40 data files in the parent snapshot
    inventory_bytes = len(json.dumps(table.files()))
    before = _manifest_dir_files(table)

    table.append(kv(spark, [(99999, "tiny")]).coalesce(1))  # 1-file commit

    after = _manifest_dir_files(table)
    new = {n: sz for n, sz in after.items() if n not in before}
    payload = sum(new.values())
    new_segs = [n for n in new if n.startswith("seg-")]
    assert len(new_segs) == 1, f"expected exactly one new segment, got {sorted(new)}"
    assert len(read_segment(table.table_dir, new_segs[0])) == 1  # only the changed file
    assert payload < inventory_bytes / 5, (
        f"commit payload {payload} B should be far below the {inventory_bytes} B "
        "full inventory — segmentation is not carrying segments by reference"
    )
    assert rows_of(table.snapshot())[-1] == (99999, "tiny")


def test_restore_writes_only_a_manifest(spark, table):
    """Restore carries every segment by name: the commit payload is one
    top-level manifest regardless of table size."""
    table.append(kv(spark, [(1, "a")]))
    table.overwrite(kv(spark, [(2, "b")]))
    before = _manifest_dir_files(table)
    table.restore(0)
    new = {n for n in _manifest_dir_files(table) if n not in before}
    assert len(new) == 1 and next(iter(new)).startswith("v"), new
    assert rows_of(table.snapshot()) == [(1, "a")]


@pytest.mark.slow
def test_merge_carries_disjoint_segments_by_name(spark, table):
    """Segment-level pruning: a merge touching one segment's key range must
    reference the other segment unchanged (same seg-* name), reading and
    rewriting nothing in it."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))
    table.append(kv(spark, [(100, "x"), (200, "y")]).coalesce(1))
    low_seg = next(
        d["name"] for d in table.manifest()["segments"] if d["min"]["k"] == 1
    )
    table.merge_upsert(kv(spark, [(150, "X")]).coalesce(1))
    assert low_seg in {d["name"] for d in table.manifest()["segments"]}


@pytest.mark.slow
def test_many_small_appends_compact_segments(spark, table):
    """Tiny-commit storms must not grow the manifest unboundedly: small
    segments get repacked once _COMPACT_TRIGGER of them accumulate."""
    from h2outility_spark.storage_tx import _COMPACT_TRIGGER

    n = _COMPACT_TRIGGER + 3
    for i in range(n):
        table.append(kv(spark, [(i, f"r{i}")]).coalesce(1))
    assert len(table.manifest()["segments"]) < _COMPACT_TRIGGER
    assert table.manifest()["n_files"] == n
    assert rows_of(table.snapshot()) == [(i, f"r{i}") for i in range(n)]


def test_timestamp_merge_key_prunes(spark, tmp_path):
    """Timestamp keys survive the JSON round-trip with ordering intact."""
    t = TxTable(spark, str(tmp_path / "ts"), key_cols=["ts"])
    jan = spark.sql(
        "SELECT timestamp'2024-01-15 00:00:00' + make_interval(0,0,0,id) AS ts, id AS v FROM range(3)"
    )
    jun = spark.sql(
        "SELECT timestamp'2024-06-15 00:00:00' + make_interval(0,0,0,id) AS ts, id + 100 AS v FROM range(3)"
    )
    t.append(jan.coalesce(1))
    t.append(jun.coalesce(1))
    before = {e["path"]: e for e in t.files()}
    jan_file = next(p for p, e in before.items() if e["min"]["ts"].startswith("2024-01"))

    upd = spark.sql("SELECT timestamp'2024-06-16 00:00:00' AS ts, 999 AS v")
    t.merge_upsert(upd.coalesce(1))
    after = {e["path"] for e in t.files()}
    assert jan_file in after, "January file is disjoint from a June update"
    got = {r["v"] for r in t.snapshot().collect()}
    assert got == {0, 1, 2, 100, 999, 102}  # 101's key replaced by the update


def test_pre_segmentation_manifest_is_rejected(spark, table):
    """Segmented manifests are the only format. A manifest that lists its
    files inline under 'files' (the pre-segmentation layout) and carries
    no 'segments' raises the "unsupported manifest format" ValueError
    from snapshot(), history() and the txtable_cdc source at stream
    start — it is never read as an empty or partial table."""
    from h2outility_spark.sources.txtable_source import TxTableCdcDataSource

    table.append(kv(spark, [(1, "a"), (2, "b")]))
    v0 = table.latest_version()
    path = _manifest_path(table.table_dir, v0)
    with open(path) as f:
        m = json.load(f)
    old = {k: m[k] for k in ("version", "op", "parent", "schema")}
    old["files"] = table.files(v0)
    with open(path, "w") as f:
        json.dump(old, f)

    with pytest.raises(ValueError, match="unsupported manifest format"):
        table.snapshot()
    with pytest.raises(ValueError, match="unsupported manifest format"):
        table.history()
    spark.dataSource.register(TxTableCdcDataSource)
    with pytest.raises(Exception, match="unsupported manifest format"):
        spark.readStream.format("txtable_cdc").option("path", table.table_dir).load()


def test_reused_orphan_segment_gets_fresh_mtime(spark, table):
    """Content-addressed segment reuse must refresh mtime: an orphaned
    segment picked up by a new writer may not look 'old' to vacuum's
    retention guard while the writer is between staging and commit."""
    table.append(kv(spark, [(1, "a")]))
    seg = glob.glob(os.path.join(table.table_dir, "_manifests", "seg-*.json"))[0]
    past = 10_000
    os.utime(seg, (os.path.getmtime(seg) - past, os.path.getmtime(seg) - past))
    aged = os.path.getmtime(seg)

    # a writer packing the SAME entries reuses the file — and must bump mtime
    entries = table.files(table.latest_version())
    table._write_segments(entries)
    assert os.path.getmtime(seg) > aged + past / 2


def test_compact_files_merges_small_files_content_identical(spark, table):
    """OPTIMIZE: ten 10-row commits leave >=10 small data files; compaction
    rewrites them into one range-clustered file, content-identical, as a
    'compact' commit; the pre-compaction version stays time-travelable."""
    for i in range(10):
        table.append(kv(spark, [(i * 10 + j, f"v{i}") for j in range(10)]))
    before = rows_of(table.snapshot())
    v_before = table.latest_version()
    n_before = len(table.files())
    assert n_before >= 10

    v = table.compact_files(target_rows=1000)
    assert v == v_before + 1
    assert len(table.files()) == 1
    assert rows_of(table.snapshot()) == before
    assert table.history()[-1]["op"] == "compact"
    # time travel: the fragmented version still reads in full
    assert rows_of(table.snapshot(version=v_before)) == before
    # the rewritten file carries key stats (merge pruning stays possible)
    entry = table.files()[0]
    assert entry["min"]["k"] == 0 and entry["max"]["k"] == 99


def test_compact_files_noop_when_healthy(spark, table):
    table.append(kv(spark, [(i, "a") for i in range(100)]).coalesce(1))
    v = table.latest_version()
    # the single 100-row file is >= target_rows//4 -> nothing to do
    assert table.compact_files(target_rows=100) is None
    assert table.latest_version() == v


@pytest.mark.slow
def test_compact_files_respects_target_size_and_clusters_by_key(spark, table):
    """300 rows of small files at target 100 -> 3 output files with tight,
    non-overlapping key ranges (repartitionByRange clustering)."""
    for i in range(30):
        table.append(kv(spark, [(i * 10 + j, "x") for j in range(10)]))
    table.compact_files(target_rows=100)
    entries = table.files()
    assert len(entries) == 3
    spans = sorted((e["min"]["k"], e["max"]["k"]) for e in entries)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint ranges
    assert sum(e["rows"] for e in entries) == 300


def test_compact_then_vacuum_reclaims_fragments(spark, table):
    for i in range(6):
        table.append(kv(spark, [(i, f"v{i}")]))
    frag_files = {e["path"] for e in table.files()}
    table.compact_files(target_rows=1000)
    deleted = table.vacuum(keep_versions=1, retention_seconds=0)
    assert set(deleted) == frag_files
    assert len(rows_of(table.snapshot())) == 6


def _race_before(table, spark, op, racer):
    """Make ``table``'s first ``op`` commit lose its race: ``racer`` runs
    on an independent handle of the same table just before that commit."""
    real_commit = table._commit

    def racing_commit(segments, schema, commit_op, parent):
        if commit_op == op and not getattr(racing_commit, "raced", False):
            racing_commit.raced = True
            racer(TxTable(spark, table.table_dir, key_cols=["k"]))
        return real_commit(segments, schema, commit_op, parent)

    return racing_commit


def test_disjoint_merge_race_lands_without_a_remerge(spark, table, monkeypatch):
    """Regression (lost update): a writer landing between merge's snapshot
    read and its commit must keep its files. Its key range misses the
    merge's, so the merge publishes the files it already staged on top of
    the racer: one staged write, the racer's file carried by path."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))
    real_stage = table._stage_files
    staged = []
    monkeypatch.setattr(table, "_stage_files", lambda df: staged.append(df) or real_stage(df))
    monkeypatch.setattr(
        table, "_commit",
        _race_before(table, spark, "merge", lambda t: t.append(kv(spark, [(50, "x")]))),
    )
    v = table.merge_upsert(kv(spark, [(2, "B2")]))
    assert len(staged) == 1
    assert v == 2 and table.manifest()["parent"] == 1
    racer_file = next(e["path"] for e in table.files(1) if e["min"]["k"] == 50)
    assert racer_file in {e["path"] for e in table.files()}
    # the racer's append is intact and the merge applied
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "B2"), (50, "x")]


def test_merge_meeting_a_concurrent_append_conflicts(spark, table, monkeypatch):
    """A racer whose new segment meets the merge's key bounds may hold a
    key the merge should have replaced: CommitConflict, and the racer's
    version stays the latest."""
    table.append(kv(spark, [(1, "a"), (9, "i")]))
    monkeypatch.setattr(
        table, "_commit",
        _race_before(table, spark, "merge", lambda t: t.append(kv(spark, [(5, "e")]))),
    )
    with pytest.raises(CommitConflict):
        table.merge_upsert(kv(spark, [(1, "A"), (9, "I")]))
    assert table.latest_version() == 1 and table.history()[-1]["op"] == "append"
    assert rows_of(table.snapshot()) == [(1, "a"), (5, "e"), (9, "i")]


def test_compaction_lands_on_top_of_a_concurrent_append(spark, table, monkeypatch):
    """A writer that lands between compaction's read and commit without
    touching a compacted input: compaction changes no row, so it publishes
    its rewrite on top — the racer's file carried by path, the four
    fragments one file."""
    for i in range(4):
        table.append(kv(spark, [(i, "a")]))
    monkeypatch.setattr(
        table, "_commit",
        _race_before(table, spark, "compact", lambda t: t.append(kv(spark, [(99, "z")]))),
    )
    v = table.compact_files(target_rows=1000)
    assert [h["op"] for h in table.history()][-2:] == ["append", "compact"]
    assert table.manifest(v)["parent"] == 4
    (racer_file,) = [e["path"] for e in table.files(4) if e["min"]["k"] == 99]
    assert sorted(e["path"] == racer_file for e in table.files()) == [False, True]
    assert rows_of(table.snapshot()) == [(0, "a"), (1, "a"), (2, "a"), (3, "a"), (99, "z")]


def test_compaction_conflicts_with_a_merge_that_rewrote_an_input(spark, table, monkeypatch):
    """A racer that rewrote one of the compacted files makes the compacted
    rows stale: CommitConflict, and the racer's merge stays the latest."""
    for i in range(4):
        table.append(kv(spark, [(i, "a")]))
    monkeypatch.setattr(
        table, "_commit",
        _race_before(table, spark, "compact", lambda t: t.merge_upsert(kv(spark, [(2, "X")]))),
    )
    with pytest.raises(CommitConflict):
        table.compact_files(target_rows=1000)
    assert table.history()[-1]["op"] == "merge"
    assert rows_of(table.snapshot()) == [(0, "a"), (1, "a"), (2, "X"), (3, "a")]


def test_merge_racing_a_schema_change_conflicts(spark, table, monkeypatch):
    """A racer that evolved the schema conflicts even on a disjoint key
    range: publishing the merge's older schema would hide its column."""
    table.append(kv(spark, [(1, "a")]))
    wide = spark.createDataFrame([Row(k=50, v="w", score=0.5)], "k int, v string, score double")
    monkeypatch.setattr(
        table, "_commit",
        _race_before(table, spark, "merge", lambda t: t.merge_upsert(wide, evolve_schema=True)),
    )
    with pytest.raises(CommitConflict):
        table.merge_upsert(kv(spark, [(1, "A")]))
    assert "`score` double" in table.manifest()["schema"]
    assert rows_of(table.snapshot()) == [(1, "a", None), (50, "w", 0.5)]


@pytest.mark.parametrize("verb", ["overwrite", "restore"])
def test_blind_verb_stops_at_the_commit_bound(spark, table, monkeypatch, verb):
    """A commit that never wins raises CommitConflict once the loop's bound
    is reached instead of spinning (the stub fails the test at 100 calls)."""
    table.append(kv(spark, [(1, "a")]))
    calls = []

    def always_conflict(segments, schema, op, parent):
        calls.append(op)
        if len(calls) > 100:
            raise AssertionError("commit loop did not stop")
        raise CommitConflict(f"version {parent} taken")

    monkeypatch.setattr(table, "_commit", always_conflict)
    with pytest.raises(CommitConflict):
        if verb == "overwrite":
            table.overwrite(kv(spark, [(2, "b")]))
        else:
            table.restore(0)
    assert calls == [verb] * _COMMIT_ATTEMPTS


def test_racing_publishers_lose_no_segment(table):
    """Stress the commit loop alone, with no Spark job: eight writers each
    publish one segment on the latest manifest at once. Each loses at most
    one race per other writer, so all land within the bound, on distinct
    versions, and no segment is lost."""
    import sys
    import threading

    segs = [
        table._write_segments([{"path": f"data/{i}.parquet", "rows": 1, "bytes": 1,
                                "min": {"k": i}, "max": {"k": i}}])
        for i in range(8)
    ]
    versions, errs = [], []

    def writer(seg):
        try:
            versions.append(table._publish(
                lambda m: (m["segments"] if m else []) + seg, "`k` int", "append", table.manifest()
            ))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(seg,)) for seg in segs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errs
    assert sorted(versions) == list(range(8))
    assert {d["name"] for d in table.manifest()["segments"]} == {s[0]["name"] for s in segs}


def test_only_the_commit_loop_catches_commit_conflict():
    """One bounded loop owns every lost commit race: ``storage_tx.py`` has
    one ``except CommitConflict`` and no ``while True``, and no other
    package module catches it but the registry's re-merging writer in
    ``q_txtable_concurrent_merge`` (the documented caller contract)."""
    package = Path(__file__).resolve().parents[1] / "h2outility_spark"

    def catches(tree, stack=()):
        """The enclosing function names of every handler naming CommitConflict."""
        for node in ast.iter_child_nodes(tree):
            inner = stack + (node.name,) if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else stack
            if isinstance(node, ast.ExceptHandler) and node.type is not None and any(
                getattr(n, "id", None) == "CommitConflict" or getattr(n, "attr", None) == "CommitConflict"
                for n in ast.walk(node.type)
            ):
                yield inner
            yield from catches(node, inner)

    own = ast.parse((package / "storage_tx.py").read_text())
    assert len(list(catches(own))) == 1
    spins = [
        n.lineno for n in ast.walk(own)
        if isinstance(n, ast.While) and isinstance(n.test, ast.Constant) and n.test.value
    ]
    assert not spins, f"storage_tx.py: unbounded loops at lines {spins}"
    elsewhere = [
        f"{path.relative_to(package)} in {'.'.join(stack) or '<module>'}"
        for path in sorted(package.rglob("*.py"))
        if path.name != "storage_tx.py" or path.parent != package
        for stack in catches(ast.parse(path.read_text()))
        if "q_txtable_concurrent_merge" not in stack
    ]
    assert not elsewhere, f"CommitConflict caught outside the commit loop: {elsewhere}"


def test_merge_schema_evolution_adds_column(spark, table):
    """evolve_schema=True: an update with a new column widens the table
    schema; carried-over rows read the new column as NULL (parquet
    fill-missing), update rows carry their values; a later old-shape
    update null-fills. Default mode still drops unknown columns."""
    table.append(kv(spark, [(1, "a"), (2, "b")]))

    wide = spark.createDataFrame(
        [Row(k=2, v="B2", score=0.9), Row(k=3, v="c", score=0.5)],
        "k int, v string, score double",
    )
    table.merge_upsert(wide, evolve_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in table.snapshot().collect()}
    assert got == {1: ("a", None), 2: ("B2", 0.9), 3: ("c", 0.5)}
    assert "`score` double" in table.manifest()["schema"]

    # old-shape update against the evolved table: score null-fills
    table.merge_upsert(kv(spark, [(1, "A2")]), evolve_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in table.snapshot().collect()}
    assert got[1] == ("A2", None) and got[2] == ("B2", 0.9)


def test_merge_strict_mode_drops_unknown_and_requires_known(spark, table):
    """Default (strict) merge contract: update columns the table doesn't
    know are dropped by the conform-select; an update MISSING a table
    column raises instead of silently null-filling."""
    table.append(kv(spark, [(1, "a")]))
    wider = spark.createDataFrame([Row(k=9, v="z", extra=1)], "k int, v string, extra int")
    table.merge_upsert(wider)
    assert "extra" not in table.manifest()["schema"]
    assert {r["k"]: r["v"] for r in table.snapshot().collect()}[9] == "z"

    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        table.merge_upsert(spark.createDataFrame([Row(k=5)], "k int"))


@pytest.mark.slow
def test_merge_schema_evolution_spares_pruned_files(spark, table):
    """Evolution must stay metadata-only for pruned files: a disjoint file
    is carried by reference (not rewritten) and still reads with the new
    column as NULL."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))      # k in [1,2]
    table.append(kv(spark, [(100, "x"), (200, "y")]).coalesce(1))  # k in [100,200]
    file_low = next(e["path"] for e in table.files() if e["min"]["k"] == 1)

    wide = spark.createDataFrame([Row(k=150, v="X", score=1.5)], "k int, v string, score double")
    table.merge_upsert(wide, evolve_schema=True)
    after = {e["path"] for e in table.files()}
    assert file_low in after, "disjoint file must be carried by reference"
    got = {r["k"]: (r["v"], r["score"]) for r in table.snapshot().collect()}
    assert got == {1: ("a", None), 2: ("b", None), 100: ("x", None),
                   150: ("X", 1.5), 200: ("y", None)}


@pytest.mark.slow
def test_compact_zorder_clusters_all_key_axes(spark, tmp_path):
    """OPTIMIZE ZORDER: a two-key table fragmented into row-major small
    files is rewritten on the Morton code, so every output file covers a
    compact rectangle — both axes prune, where single-key range clustering
    leaves the second axis spanning everything."""
    from pyspark.sql import Row

    table = TxTable(spark, str(tmp_path / "zt"), key_cols=["x", "y"])
    # 32x32 grid appended row-by-row: each file spans ALL of y
    for x in range(32):
        table.append(
            spark.createDataFrame([Row(x=x, y=y, v=x * 32 + y) for y in range(32)],
                                  "x int, y int, v int").coalesce(1)
        )
    before = rows_of(table.snapshot())

    v = table.compact_files(target_rows=256, zorder=True)
    assert v is not None
    entries = table.files()
    assert len(entries) == 4
    assert rows_of(table.snapshot()) == before
    for e in entries:
        x_span = e["max"]["x"] - e["min"]["x"]
        y_span = e["max"]["y"] - e["min"]["y"]
        # quadrant-shaped coverage: each axis spans about half the domain
        assert x_span <= 19, f"x span too wide: {e}"
        assert y_span <= 19, f"y span too wide: {e}"


def test_snapshot_as_of_timestamp(spark, table):
    import time

    table.append(kv(spark, [(1, "a")]))
    t0 = time.time()
    time.sleep(0.05)
    table.merge_upsert(kv(spark, [(1, "A2"), (2, "b")]))
    t1 = time.time()

    assert table.version_as_of(t0) == 0
    assert rows_of(table.snapshot_as_of(t0)) == [(1, "a")]
    assert table.version_as_of(t1) == 1
    assert rows_of(table.snapshot_as_of(t1)) == [(1, "A2"), (2, "b")]
    with pytest.raises(FileNotFoundError):
        table.version_as_of(t0 - 10_000)
    assert all(h["committed_at"] is not None for h in table.history())


def test_clone_is_independent_and_survives_source_vacuum(spark, table, tmp_path):
    """Hard-link clone: content-equal at the cloned version, histories
    fork independently, and vacuuming the source does not break the clone
    (the shared inode lives until both sides drop it)."""
    table.append(kv(spark, [(1, "a"), (2, "b")]))
    # a clone of the first version, taken before the source moves on
    c0 = table.clone(str(tmp_path / "fork0"))
    table.merge_upsert(kv(spark, [(2, "B2")]))

    c = table.clone(str(tmp_path / "fork"))
    assert rows_of(c.snapshot()) == rows_of(table.snapshot())
    assert [h["op"] for h in c.history()] == ["clone"]

    # fork evolves; source untouched
    c.merge_upsert(kv(spark, [(3, "fork-only")]))
    assert (3, "fork-only") in rows_of(c.snapshot())
    assert (3, "fork-only") not in rows_of(table.snapshot())

    assert rows_of(c0.snapshot()) == [(1, "a"), (2, "b")]

    # source rewrites + vacuums everything it can; clones still read
    table.overwrite(kv(spark, [(9, "z")]))
    table.vacuum(keep_versions=1, retention_seconds=0)
    assert rows_of(c.snapshot()) == [(1, "a"), (2, "B2"), (3, "fork-only")]
    assert rows_of(c0.snapshot()) == [(1, "a"), (2, "b")]


def test_compact_zorder_rejects_string_keys(spark, tmp_path):
    from pyspark.sql import Row

    t = TxTable(spark, str(tmp_path / "st"), key_cols=["site", "k"])
    t.append(spark.createDataFrame([Row(site="a", k=1, v=1.0), Row(site="b", k=2, v=2.0)],
                                   "site string, k int, v double"))
    t.append(spark.createDataFrame([Row(site="c", k=3, v=3.0)], "site string, k int, v double"))
    with pytest.raises(ValueError, match="zorder=True needs numeric"):
        t.compact_files(target_rows=1000, zorder=True)


def test_clone_refuses_existing_table(spark, table, tmp_path):
    table.append(kv(spark, [(1, "a")]))
    dest = str(tmp_path / "occupied")
    other = TxTable(spark, dest, key_cols=["k"])
    other.append(kv(spark, [(9, "z")]))
    with pytest.raises(FileExistsError):
        table.clone(dest)
    assert rows_of(other.snapshot()) == [(9, "z")]  # untouched


def test_changes_feed_between_versions(spark, table):
    """CDC: a merge shows as delete+insert for the replaced key and a bare
    insert for the new key; a compaction (pure rewrite) yields an EMPTY
    feed because unchanged rows cancel in the file-diff exceptAll."""
    table.append(kv(spark, [(1, "a"), (2, "b")]))                    # v0
    table.merge_upsert(kv(spark, [(2, "B2"), (4, "d")]))             # v1
    v2 = table.compact_files(target_rows=1000, small_rows=1_000_000)  # v2: rewrite only

    feed = {(r["k"], r["v"], r["_change_type"]) for r in table.changes(0, 1).collect()}
    assert feed == {(2, "b", "delete"), (2, "B2", "insert"), (4, "d", "insert")}
    assert table.changes(1, v2).count() == 0
    assert {(r["k"], r["v"], r["_change_type"]) for r in table.changes(0, v2).collect()} == feed
    # default v_to = latest
    assert table.changes(0).count() == 3


def test_changes_feed_with_schema_evolution(spark, table):
    """The feed reads both sides with the DESTINATION schema: pre-evolution
    rows surface the new column as NULL, like the snapshots do."""
    from pyspark.sql import Row

    table.append(kv(spark, [(1, "a")]))
    wide = spark.createDataFrame([Row(k=1, v="A2", score=0.5)], "k int, v string, score double")
    table.merge_upsert(wide, evolve_schema=True)
    feed = {(r["k"], r["v"], r["score"], r["_change_type"]) for r in table.changes(0, 1).collect()}
    assert feed == {(1, "a", None, "delete"), (1, "A2", 0.5, "insert")}


@pytest.mark.slow
def test_merge_multi_axis_pruning_after_zorder(spark, tmp_path):
    """After a z-order compaction of a two-key table into quadrant files,
    a merge touching one quadrant must rewrite ONLY that quadrant's file —
    the secondary axis prunes too, not just the first key."""
    from pyspark.sql import Row

    t = TxTable(spark, str(tmp_path / "mz"), key_cols=["x", "y"])
    for x in range(32):
        t.append(
            spark.createDataFrame([Row(x=x, y=y, v=x * 32 + y) for y in range(32)],
                                  "x int, y int, v int").coalesce(1)
        )
    t.compact_files(target_rows=256, zorder=True)
    quadrants = {e["path"] for e in t.files()}
    assert len(quadrants) == 4
    before = rows_of(t.snapshot())

    # update one point deep inside the low-low quadrant
    t.merge_upsert(
        spark.createDataFrame([Row(x=2, y=3, v=-1)], "x int, y int, v int").coalesce(1)
    )
    after = {e["path"] for e in t.files()}
    assert len(quadrants & after) == 3, "exactly one quadrant file rewritten"
    got = rows_of(t.snapshot())
    expected = sorted([r for r in before if (r[0], r[1]) != (2, 3)] + [(2, 3, -1)])
    assert got == expected


@pytest.mark.slow
def test_scan_prunes_files_from_manifest(spark, table):
    """Manifest-pruned range scan: only overlapping files are opened
    (inputFiles proves it), results equal the filtered snapshot, and
    half-open ranges work."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))       # [1,2]
    table.append(kv(spark, [(50, "m"), (60, "n")]).coalesce(1))     # [50,60]
    table.append(kv(spark, [(100, "x"), (200, "y")]).coalesce(1))   # [100,200]

    s = table.scan("k", 40, 70)
    assert len(s.inputFiles()) == 1, "exactly the middle file opened"
    assert rows_of(s) == [(50, "m"), (60, "n")]

    # residual filter still applies inside a partially-overlapping file
    assert rows_of(table.scan("k", 55, 150)) == [(60, "n"), (100, "x")]
    # half-open
    assert rows_of(table.scan("k", 100, None)) == [(100, "x"), (200, "y")]
    assert rows_of(table.scan("k", None, 2)) == [(1, "a"), (2, "b")]
    # empty overlap -> empty frame with the table schema
    empty = table.scan("k", 300, 400)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


@pytest.mark.slow
def test_compact_target_bytes_sizes_from_observed_density(spark, table):
    """target_bytes translates through the table's own observed bytes/row:
    the output file count matches ceil(total_rows / (target_bytes /
    bytes_per_row)) within one file."""
    for i in range(10):
        table.append(kv(spark, [(i * 20 + j, f"val{j}") for j in range(20)]).coalesce(1))
    entries = table.files()
    total_rows = sum(e["rows"] for e in entries)
    total_bytes = sum(e["bytes"] for e in entries)
    assert total_rows == 200 and total_bytes > 0

    # aim for ~half the table per file -> expect 2 (+/- rounding) files
    v = table.compact_files(target_bytes=total_bytes // 2)
    assert v is not None
    n_files = len(table.files())
    assert n_files in (2, 3)
    assert sum(e["rows"] for e in table.files()) == 200


@pytest.mark.slow
def test_describe_health_snapshot(spark, table):
    for i in range(4):
        table.append(kv(spark, [(i * 10 + j, "x") for j in range(10)]).coalesce(1))
    d = table.describe()
    assert d["rows"] == 40 and d["n_files"] == 4
    assert d["op"] == "append" and d["n_versions"] == 4
    assert d["bytes"] > 0 and d["bytes_per_row"] > 0
    assert d["n_small_files"] == 0  # uniform sizes: none below median/4

    table.append(kv(spark, [(999, "tiny")]).coalesce(1))
    d2 = table.describe()
    assert d2["n_files"] == 5 and d2["n_small_files"] == 1
    assert d2["small_file_fraction"] == 0.2


def test_empty_merge_is_a_noop_version(spark, table):
    """Review regression: merging ZERO updates must not publish a new
    version — a checkpointed streaming sink upserting empty micro-batches
    would otherwise churn history (and vacuum bookkeeping) forever."""
    v1 = table.append(kv(spark, [(1, "a"), (2, "b")]))
    empty = spark.createDataFrame([], "k int, v string")
    v2 = table.merge_upsert(empty)
    assert v2 == v1  # no new version published
    assert table.latest_version() == v1
    assert [m["op"] for m in table.history()] == ["append"]
    assert rows_of(table.snapshot()) == [(1, "a"), (2, "b")]


def test_empty_merge_with_schema_evolution_still_evolves(spark, table):
    """Review regression on the no-op short-circuit: a ZERO-row merge with
    evolve_schema=True carrying a new column is a real metadata change —
    the schema must evolve (old rows null-filled) even though no rows
    moved."""
    v1 = table.append(kv(spark, [(1, "a")]))
    empty_evolved = spark.createDataFrame([], "k int, v string, tag string")
    v2 = table.merge_upsert(empty_evolved, evolve_schema=True)
    assert v2 == v1 + 1
    snap = table.snapshot()
    assert snap.columns == ["k", "v", "tag"]
    assert rows_of(snap) == [(1, "a", None)]
    # and a PLAIN empty merge against the evolved schema is still a no-op
    assert table.merge_upsert(spark.createDataFrame([], "k int, v string, tag string")) == v2


def test_ivm_maintain_handles_pure_deletes_and_new_keys(spark):
    """maintain_grouped_agg edges the staged IVM query can't reach:
    a key whose rows are all deleted must LEAVE the view; a brand-new key
    must enter it; an untouched key must ride through unchanged."""
    from pyspark.sql import Row

    from h2outility_spark.operators import ivm

    old = spark.createDataFrame(
        [Row(k="gone", n_orders=2, total_cents=30), Row(k="stays", n_orders=1, total_cents=5),
         Row(k="grows", n_orders=1, total_cents=7)]
    )
    changes = spark.createDataFrame(
        [
            Row(k="gone", v=10, _change_type="delete"),
            Row(k="gone", v=20, _change_type="delete"),
            Row(k="grows", v=3, _change_type="insert"),
            Row(k="new", v=100, _change_type="insert"),
            # an update = delete+insert pair on the same key
            Row(k="grows", v=7, _change_type="delete"),
            Row(k="grows", v=9, _change_type="insert"),
        ]
    )
    out = {
        r["k"]: (r["n_orders"], r["total_cents"])
        for r in ivm.maintain_grouped_agg(old, changes, ["k"], "v").collect()
    }
    assert out == {"stays": (1, 5), "grows": (2, 12), "new": (1, 100)}


def test_ivm_minmax_maintain_and_targeted_rescan(spark):
    """Bounded MIN/MAX maintenance edges: delete inside the kept set,
    delete beyond the horizon, horizon-gated insert admission, duplicate
    multiplicities, brand-new keys, and the two rescan triggers — kept
    SURVIVORS emptying, and the classic masking counterexample where
    beyond-horizon inserts must NOT satisfy the emptiness test."""
    from pyspark.sql import Row

    from h2outility_spark.operators import ivm

    base_before = spark.createDataFrame(
        [Row(k="a", v=x) for x in [1, 2, 5, 7, 9]]
        + [Row(k="b", v=x) for x in [10, 20, 30]]
        + [Row(k="dup", v=x) for x in [4, 4, 6]]
        + [Row(k="mask", v=x) for x in [1, 2, 3]]
        + [Row(k="hz", v=x) for x in [1, 2, 3]]
    )
    old = ivm.minmax_state(base_before, ["k"], "v")
    st = {r["k"]: r for r in old.collect()}
    assert list(st["a"]["kmin"]) == [1, 2] and list(st["a"]["kmax"]) == [9, 7]
    assert st["a"]["hmin"] == 2 and st["a"]["hmax"] == 7
    assert list(st["dup"]["kmin"]) == [4, 4] and st["dup"]["hmin"] == 4

    changes = spark.createDataFrame(
        [
            # empty key-a's kept-min entirely -> survivors-based rescan
            Row(k="a", v=1, _change_type="delete"),
            Row(k="a", v=2, _change_type="delete"),
            # b: insert below hmin enters kmin; the same value is NOT
            # admitted to kmax (beyond-horizon there)
            Row(k="b", v=5, _change_type="insert"),
            # a brand-new key materializes via targeted rescan
            Row(k="new", v=42, _change_type="insert"),
            # duplicate multiplicity arithmetic
            Row(k="dup", v=4, _change_type="delete"),
            # THE masking counterexample: delete the whole kept set and
            # insert values beyond the horizon — the true min is the
            # truncated 3, which only the rescan can surface
            Row(k="mask", v=1, _change_type="delete"),
            Row(k="mask", v=2, _change_type="delete"),
            Row(k="mask", v=10, _change_type="insert"),
            Row(k="mask", v=20, _change_type="insert"),
            # horizon gating without rescan: a survivor remains, and the
            # beyond-horizon insert must be ignored by kmin
            Row(k="hz", v=2, _change_type="delete"),
            Row(k="hz", v=10, _change_type="insert"),
        ]
    )
    base_after = spark.createDataFrame(
        [Row(k="a", v=x) for x in [5, 7, 9]]
        + [Row(k="b", v=x) for x in [5, 10, 20, 30]]
        + [Row(k="new", v=42)]
        + [Row(k="dup", v=x) for x in [4, 6]]
        + [Row(k="mask", v=x) for x in [3, 10, 20]]
        + [Row(k="hz", v=x) for x in [1, 3, 10]]
    )
    out = {
        r["k"]: r
        for r in ivm.maintain_grouped_minmax(old, changes, base_after, ["k"], "v").collect()
    }
    # key a: kept-min survivors emptied -> rescan surfaces 5 (never kept)
    assert list(out["a"]["kmin"]) == [5, 7] and out["a"]["n"] == 3
    # key b: admitted insert enters kmin and re-truncation tightens hmin;
    # the same insert is correctly refused by kmax
    assert list(out["b"]["kmin"]) == [5, 10] and out["b"]["n"] == 4
    assert out["b"]["hmin"] == 10
    assert list(out["b"]["kmax"]) == [30, 20]
    # new key materializes
    assert list(out["new"]["kmin"]) == [42] and out["new"]["n"] == 1
    # duplicates: one of two 4s deleted; the truncated 6 is NOT
    # resurrected (legitimate shrink — min stays correct while non-empty)
    assert list(out["dup"]["kmin"]) == [4] and out["dup"]["n"] == 2
    assert list(out["dup"]["kmax"]) == [6]
    # masking counterexample: min must be the truncated 3, via rescan
    assert list(out["mask"]["kmin"]) == [3, 10] and out["mask"]["n"] == 3
    # horizon gating: 10 > hmin=2 is refused; kept shrinks to the survivor
    assert list(out["hz"]["kmin"]) == [1] and out["hz"]["n"] == 3


def test_ivm_minmax_every_key_changed_shuffle_fallback(spark):
    """The broadcast guard: a pathological batch that touches EVERY key
    must not broadcast a table-sized rescan list. With max_broadcast_keys
    forced to 0 the maintenance falls back to shuffle joins and must still
    equal a from-scratch recompute; the default (broadcast) path must give
    the identical answer."""
    from pyspark.sql import Row

    from h2outility_spark.operators import ivm

    base_before = spark.createDataFrame(
        [Row(k=f"k{i}", v=j) for i in range(20) for j in (1, 2, 3, 4)]
    )
    old = ivm.minmax_state(base_before, ["k"], "v")
    # delete every key's entire kept-min set -> every key rescans
    changes = spark.createDataFrame(
        [Row(k=f"k{i}", v=j, _change_type="delete") for i in range(20) for j in (1, 2)]
    )
    base_after = spark.createDataFrame(
        [Row(k=f"k{i}", v=j) for i in range(20) for j in (3, 4)]
    )
    expected = {
        (r["k"], tuple(r["kmin"]), tuple(r["kmax"]), r["n"])
        for r in ivm.minmax_state(base_after, ["k"], "v").collect()
    }
    for cap in (0, 100_000):  # shuffle fallback, then the broadcast path
        got = {
            (r["k"], tuple(r["kmin"]), tuple(r["kmax"]), r["n"])
            for r in ivm.maintain_grouped_minmax(
                old, changes, base_after, ["k"], "v", max_broadcast_keys=cap
            ).collect()
        }
        assert got == expected, f"mismatch with max_broadcast_keys={cap}"


def test_ivm_minmax_key_count_hint_skips_the_eager_job(spark):
    """The broadcast guard normally decides via an EAGER
    changes.distinct().count() — one extra Spark job per maintenance call,
    which a foreachBatch loop pays per micro-batch. A caller-supplied
    n_changed_keys hint must skip that job entirely (the call stays fully
    lazy) and must produce the identical state (VERDICT r9 #2 / ADVICE r9)."""
    from pyspark.sql import Row

    from h2outility_spark.operators import ivm

    base_before = spark.createDataFrame(
        [Row(k=f"k{i}", v=j) for i in range(4) for j in (1, 2, 3)]
    )
    old = ivm.minmax_state(base_before, ["k"], "v")
    changes = spark.createDataFrame(
        [Row(k="k0", v=0, _change_type="insert"), Row(k="k1", v=9, _change_type="insert")]
    )
    base_after = spark.createDataFrame(
        [Row(k=f"k{i}", v=j) for i in range(4) for j in (1, 2, 3)]
        + [Row(k="k0", v=0), Row(k="k1", v=9)]
    )

    sc = spark.sparkContext
    expected = {
        (r["k"], tuple(r["kmin"]), tuple(r["kmax"]), r["n"])
        for r in ivm.minmax_state(base_after, ["k"], "v").collect()
    }

    # Without the hint the guard's count job runs at CALL time.
    sc.setJobGroup("ivm_nohint", "guard count probe")
    ivm.maintain_grouped_minmax(old, changes, base_after, ["k"], "v")
    assert list(sc.statusTracker().getJobIdsForGroup("ivm_nohint")), (
        "expected the unhinted call to run its eager guard-count job"
    )

    # With the hint, building the plan must launch ZERO jobs...
    sc.setJobGroup("ivm_hinted", "hint probe")
    maintained = ivm.maintain_grouped_minmax(
        old, changes, base_after, ["k"], "v", n_changed_keys=2
    )
    assert sc.statusTracker().getJobIdsForGroup("ivm_hinted") == [], (
        "n_changed_keys hint must make maintain_grouped_minmax fully lazy"
    )
    sc.setJobGroup("ivm_done", "clear")
    # ...and the maintained state must still equal a from-scratch recompute.
    got = {
        (r["k"], tuple(r["kmin"]), tuple(r["kmax"]), r["n"])
        for r in maintained.collect()
    }
    assert got == expected


def test_branch_create_list_merge_back(spark, table):
    """Named-branch workflow: branch() clones into the table's own
    _branches/ namespace (discoverable via branches()), the branch's
    post-fork upserts merge back as its net CDF inserts in one commit,
    and main's independent advances survive untouched."""
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
    br = table.branch("fix")
    assert table.branches() == ["fix"]
    assert [h["op"] for h in br.history()] == ["clone"]

    # branch experiments; main advances independently
    br.merge_upsert(kv(spark, [(2, "B-fixed"), (4, "branch-new")]))
    table.merge_upsert(kv(spark, [(5, "main-new")]))
    assert (2, "B-fixed") not in rows_of(table.snapshot())

    v = table.merge_from_branch(table.branch_table("fix"))
    assert v == table.latest_version()
    assert rows_of(table.snapshot()) == [
        (1, "a"), (2, "B-fixed"), (3, "c"), (4, "branch-new"), (5, "main-new"),
    ]
    # merge-back is the branch's DELTA, not a replay: unchanged key 1/3
    # came from main's own files (one merge commit on top of main's two)
    assert [h["op"] for h in table.history()][-1] == "merge"


def test_branch_name_validation_and_missing_branch(spark, table):
    table.append(kv(spark, [(1, "a")]))
    for bad in ("", "../escape", "a/b", ".hidden", "x y"):
        with pytest.raises(ValueError):
            table.branch(bad)
    with pytest.raises(FileNotFoundError):
        table.branch_table("nope")
    assert table.branches() == []


def test_branch_survives_source_compaction_and_vacuum(spark, table):
    """The hard-link property extends to branches: main compacting and
    vacuuming away the files the branch still links must not break the
    branch's snapshot (inode survives), and the branch dir is invisible
    to main's vacuum scan."""
    table.append(kv(spark, [(1, "a"), (2, "b")]))
    br = table.branch("keep")
    table.overwrite(kv(spark, [(9, "z")]))
    table.vacuum(keep_versions=1, retention_seconds=0)
    assert rows_of(br.snapshot()) == [(1, "a"), (2, "b")]
    assert table.branches() == ["keep"]


def test_merge_from_unchanged_branch_is_a_noop(spark, table):
    """Merging back a branch with zero post-fork edits commits nothing:
    the net CDF is empty and the table's version/history are untouched."""
    table.append(kv(spark, [(1, "a")]))
    br = table.branch("noop")
    v = table.merge_from_branch(br)
    assert v == table.latest_version() == 0
    assert [h["op"] for h in table.history()] == ["append"]


def test_delete_keys_removes_and_feeds_cdf(spark, table):
    """delete_keys: matching rows removed, survivors kept, op recorded as
    'delete', and the removed rows surface as 'delete' rows in changes()
    — the tombstone feed replicas consume."""
    v0 = table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    v1 = table.delete_keys(spark.createDataFrame([(2,), (4,), (99,)], "k int"))
    assert rows_of(table.snapshot()) == [(1, "a"), (3, "c")]
    assert [h["op"] for h in table.history()] == ["append", "delete"]
    cdf = table.changes(v0, v1)
    dels = sorted(
        (r["k"], r["v"]) for r in cdf.filter(F.col("_change_type") == "delete").collect()
    )
    assert dels == [(2, "b"), (4, "d")]
    assert cdf.filter(F.col("_change_type") == "insert").count() == 0


@pytest.mark.slow
def test_delete_keys_prunes_disjoint_files(spark, table):
    """Files whose key range misses the delete keys carry over BY
    REFERENCE; a file fully emptied by the delete disappears."""
    table.append(kv(spark, [(1, "a"), (2, "b")]).coalesce(1))
    table.append(kv(spark, [(100, "x"), (200, "y")]).coalesce(1))
    before = {e["path"] for e in table.files()}
    file_b = next(
        e["path"] for e in table.files() if e["min"]["k"] == 100
    )
    table.delete_keys(spark.createDataFrame([(1,), (2,)], "k int"))
    after = {e["path"] for e in table.files()}
    assert file_b in after, "disjoint file must carry over by reference"
    assert rows_of(table.snapshot()) == [(100, "x"), (200, "y")]
    assert len(after) < len(before) + 1, "the emptied file must not be replaced"


def test_delete_keys_noop_and_type_conform(spark, table):
    """Zero matching keys -> no version churn; int-literal keys against a
    table key column cast instead of silently missing."""
    table.append(kv(spark, [(1, "a")]))
    v = table.delete_keys(spark.createDataFrame([], "k int"))
    assert v == table.latest_version() == 0
    # bigint literals against the int key column: conform-cast, then hit
    table.delete_keys(spark.createDataFrame([(1,)], "k bigint"))
    assert rows_of(table.snapshot()) == []


def test_branch_merge_back_propagates_tombstones_only_on_opt_in(spark, table):
    """propagate_deletes: keys the branch deleted WITHOUT re-inserting are
    deleted from main; an updated key (delete+insert pair in the CDF) is
    never treated as a tombstone. Default merge still ignores deletes."""
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    br = table.branch("cleanup")
    br.delete_keys(spark.createDataFrame([(2,), (3,)], "k int"))
    br.merge_upsert(kv(spark, [(3, "c-new"), (5, "e")]))  # 3 is an update, not a tombstone

    # default: deletes ignored, inserts merged
    t2 = TxTable(spark, table.table_dir, key_cols=["k"])
    v_default = t2.merge_from_branch(t2.branch_table("cleanup"))
    assert rows_of(t2.snapshot()) == [
        (1, "a"), (2, "b"), (3, "c-new"), (4, "d"), (5, "e"),
    ]
    assert v_default == t2.latest_version()

    # opt-in: key 2 (deleted, never re-inserted) is tombstoned away
    table2 = TxTable(spark, str(table.table_dir) + "_tomb", key_cols=["k"])
    table2.append(kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    br2 = table2.branch("cleanup")
    br2.delete_keys(spark.createDataFrame([(2,), (3,)], "k int"))
    br2.merge_upsert(kv(spark, [(3, "c-new"), (5, "e")]))
    table2.merge_from_branch(table2.branch_table("cleanup"), propagate_deletes=True)
    assert rows_of(table2.snapshot()) == [
        (1, "a"), (3, "c-new"), (4, "d"), (5, "e"),
    ]
    ops = [h["op"] for h in table2.history()]
    assert ops == ["append", "delete", "merge"], ops


def test_delete_keys_disjoint_bounds_is_a_noop(spark, table):
    """Delete keys provably outside every file's range must not publish a
    new (byte-identical) version — same no-churn contract as empty keys."""
    table.append(kv(spark, [(1, "a"), (2, "b")]))
    v = table.delete_keys(spark.createDataFrame([(500,), (600,)], "k int"))
    assert v == table.latest_version() == 0
    assert [h["op"] for h in table.history()] == ["append"]


def test_interrupted_branch_is_not_listed(spark, table):
    """A branch directory skeleton without a committed manifest (an
    interrupted branch()) must be invisible: branches() skips it and
    branch_table() raises instead of returning a table that errors on
    first read."""
    import os

    import pytest as _pytest

    table.append(kv(spark, [(1, "a")]))
    table.branch("good")
    os.makedirs(
        os.path.join(table.table_dir, "_branches", "phantom", "_manifests"),
        exist_ok=True,
    )
    assert table.branches() == ["good"]
    with _pytest.raises(FileNotFoundError):
        table.branch_table("phantom")


def test_branch_conflicts_reports_only_both_touched(spark, table):
    """branch_conflicts: keys net-changed on BOTH branches since the fork
    — an update counts, a delete counts, a key touched on one branch
    only never appears, and an update-then-revert nets out entirely."""
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]))
    b1 = table.branch("one")
    b2 = table.branch("two")
    b1.merge_upsert(kv(spark, [(1, "x"), (2, "x"), (5, "same-key-new-val")]))
    b2.merge_upsert(kv(spark, [(2, "y"), (3, "y")]))
    b2.delete_keys(spark.createDataFrame([(1,)], "k int"))
    # branch two also touches-and-reverts key 4: nets to nothing
    b2.merge_upsert(kv(spark, [(4, "tmp")]))
    b2.merge_upsert(kv(spark, [(4, "d")]))
    got = sorted(
        r["k"]
        for r in table.branch_conflicts(
            table.branch_table("one"), table.branch_table("two")
        ).collect()
    )
    # 1: updated on one, deleted on two; 2: updated on both. 3/5 one side
    # only; 4 reverted on two.
    assert got == [1, 2]


def test_resolve_from_branch_prefer_main_keeps_ours_on_conflict(spark, table):
    """Three-way resolution keeps ours: conflicted keys keep main's
    state; the branch's non-conflicting updates, inserts and deletes all
    land."""
    table.append(kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]))
    fork_v = table.latest_version()
    br = table.branch("exp")
    # main advances: touches 1 and 2
    table.merge_upsert(kv(spark, [(1, "main1"), (2, "main2")]))
    # branch: updates 1 (conflict) and 3, inserts 6, deletes 2 (conflict) and 5
    br.merge_upsert(kv(spark, [(1, "br1"), (3, "br3"), (6, "br6")]))
    br.delete_keys(spark.createDataFrame([(2,), (5,)], "k int"))

    table.resolve_from_branch(br, since_self=fork_v)
    assert rows_of(table.snapshot()) == [
        (1, "main1"),  # conflict: ours wins
        (2, "main2"),  # conflict (branch deleted, main updated): ours wins
        (3, "br3"),    # branch-only update lands
        (4, "d"),      # untouched
        (6, "br6"),    # branch-only insert lands
    ]  # 5: branch-only delete propagated
