"""Replay idempotence of the foreachBatch state handlers (VERDICT r10 #1).

Structured Streaming's foreachBatch contract is AT-LEAST-ONCE: after a
checkpoint/commit race a batch can be re-delivered with the SAME batch_id.
The three handlers that maintain state outside the checkpoint — the
Count-Min grid advance, the late-data quarantine router and the CDC
replica apply — commit each batch through a ``BatchLedger`` and must
therefore be idempotent per batch_id. These tests drive the handlers
directly: apply batch 0 and 1, snapshot the state, re-invoke with a
repeated batch_id, and assert the state is bit-identical.

The crash tests make the ledger's marker commit (the ``os.replace`` of
the temp marker into place) raise once, then deliver the same batch_id
again: the final state must equal the run without the crash, and the
orphaned temp marker must never count as an applied batch.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import load_table
from h2outility_spark.streaming.incremental import BatchLedger
from h2outility_spark.workload_streaming import (
    cms_grid_path,
    make_cms_handler,
    make_quarantine_handler,
    quarantine_watermark,
)

from tests.conftest import SF_DIR


def _grid_rows(spark, path):
    return sorted(
        (r["j"], r["bucket"], r["c"]) for r in spark.read.parquet(path).collect()
    )


def _crash_next_marker_commit(monkeypatch, ledger_root: str) -> None:
    """Make the next marker commit into ``ledger_root`` raise after its temp
    file is written (a crash between the batch's work and its marker);
    every other ``os.replace`` passes through."""
    real_replace = os.replace
    armed = [True]

    def replace(src, dst, *args, **kwargs):
        if armed[0] and os.path.dirname(os.path.abspath(dst)) == os.path.abspath(ledger_root):
            armed[0] = False
            raise OSError("injected crash at the marker commit")
        return real_replace(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", replace)


def _assert_orphan_not_counted(ledger: BatchLedger, batch_id: int, committed: list[int]) -> None:
    orphans = [n for n in os.listdir(ledger.root) if n.startswith(".")]
    assert orphans, "the crash must leave the temp marker behind"
    assert ledger.ids() == committed, "an orphaned temp marker is not an applied batch"
    assert not ledger.applied(batch_id)


def _events(spark, *cols):
    return load_table(spark, SF_DIR, "events").select(*cols)


def test_cms_grid_unchanged_by_replayed_batch(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    handle = make_cms_handler(spark, state_dir)
    ledger = BatchLedger(state_dir)

    ev = _events(spark, "user_id")
    b0 = ev.filter(F.col("user_id") % 3 != 0)
    b1 = ev.filter(F.col("user_id") % 3 == 0)

    handle(b0, 0)
    handle(b1, 1)
    assert len(ledger.ids()) == 2
    after_two = _grid_rows(spark, cms_grid_path(state_dir))
    assert after_two, "grid must be non-empty"

    # the replay: same batch_id, same rows, re-delivered
    handle(b1, 1)
    assert len(ledger.ids()) == 2, "replayed batch must not advance the counter"
    assert _grid_rows(spark, cms_grid_path(state_dir)) == after_two, (
        "replayed batch must not double-count into the grid"
    )
    # and a replay of the EARLIER batch (late re-delivery) is also a no-op
    handle(b0, 0)
    assert len(ledger.ids()) == 2
    assert _grid_rows(spark, cms_grid_path(state_dir)) == after_two


def _routes(spark, main_dir, quar_dir, schema):
    main = spark.read.schema(schema).parquet(os.path.join(main_dir, "batch_*"))
    quar = spark.read.schema(schema).parquet(os.path.join(quar_dir, "batch_*"))
    key = lambda r: (r["event_id"],)  # noqa: E731
    return (
        sorted(map(key, main.collect())),
        sorted(map(key, quar.collect())),
    )


def _quarantine_dirs(tmp_path, tag: str = ""):
    return tuple(str(tmp_path / f"{d}{tag}") for d in ("main", "quar", "meta"))


def test_quarantine_routes_unchanged_by_replayed_batch(spark, tmp_path):
    main_dir, quar_dir, meta_dir = _quarantine_dirs(tmp_path)
    handle = make_quarantine_handler(main_dir, quar_dir, meta_dir)
    ledger = BatchLedger(meta_dir)

    ev = _events(spark, "event_id", "user_id", "ts")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 != 0)

    handle(b0, 0)
    wm_after_b0 = quarantine_watermark(meta_dir)
    assert wm_after_b0 is not None
    handle(b1, 1)
    assert len(ledger.ids()) == 2
    main_rows, quar_rows = _routes(spark, main_dir, quar_dir, b0.schema)
    total = b0.count() + b1.count()
    assert len(main_rows) + len(quar_rows) == total, "conservation: route, never drop"

    # the replay: batch 1 re-delivered AFTER the watermark advanced past it.
    # A non-idempotent handler would (a) duplicate every row and (b) reroute
    # rows as late against the newer watermark.
    handle(b1, 1)
    assert len(ledger.ids()) == 2, "replayed batch must not advance the counter"
    assert _routes(spark, main_dir, quar_dir, b0.schema) == (main_rows, quar_rows)
    handle(b0, 0)
    assert _routes(spark, main_dir, quar_dir, b0.schema) == (main_rows, quar_rows)
    wm = quarantine_watermark(meta_dir)
    assert wm == max(wm_after_b0, wm), "watermark stays monotonic"


def test_quarantine_watermark_survives_restart(spark, tmp_path):
    """A FRESH handler (new process: nothing in memory) over the same meta
    dir must route against the committed watermark — otherwise a restart
    routes genuinely-late stragglers as on-time against a NULL
    watermark."""
    main_dir, quar_dir, meta_dir = _quarantine_dirs(tmp_path)
    handle = make_quarantine_handler(main_dir, quar_dir, meta_dir)

    ev = _events(spark, "event_id", "user_id", "ts")
    handle(ev.filter(F.col("user_id") % 2 == 0), 0)
    wm_before = quarantine_watermark(meta_dir)
    assert wm_before is not None

    # "restart": a brand-new handler over the same dirs
    handle2 = make_quarantine_handler(main_dir, quar_dir, meta_dir)
    assert quarantine_watermark(meta_dir) == wm_before, "watermark must come from the markers"

    # a batch of below-watermark stragglers routes ENTIRELY to quarantine
    old = ev.orderBy("ts").limit(5)
    assert old.agg(F.max("ts")).collect()[0][0] < wm_before  # genuinely late
    handle2(old, 1)
    quar = spark.read.schema(old.schema).parquet(os.path.join(quar_dir, "batch_1"))
    assert quar.count() == 5, "restart must not forget the watermark"
    # replay of the pre-restart batch is still a no-op
    handle2(ev.filter(F.col("user_id") % 2 == 0), 0)
    assert BatchLedger(meta_dir).ids() == [0, 1]


def test_cms_crash_at_marker_commit_then_replay(spark, tmp_path, monkeypatch):
    ev = _events(spark, "user_id")
    b0 = ev.filter(F.col("user_id") % 3 != 0)
    b1 = ev.filter(F.col("user_id") % 3 == 0)

    clean_dir = str(tmp_path / "clean")
    clean = make_cms_handler(spark, clean_dir)
    clean(b0, 0)
    clean(b1, 1)
    expected = _grid_rows(spark, cms_grid_path(clean_dir))

    state_dir = str(tmp_path / "state")
    handle = make_cms_handler(spark, state_dir)
    ledger = BatchLedger(state_dir)
    handle(b0, 0)
    _crash_next_marker_commit(monkeypatch, state_dir)
    with pytest.raises(OSError, match="injected"):
        handle(b1, 1)
    _assert_orphan_not_counted(ledger, 1, [0])
    assert cms_grid_path(state_dir) == os.path.join(state_dir, "grid_0")

    handle(b1, 1)  # the same batch_id, delivered again
    assert ledger.ids() == [0, 1]
    assert _grid_rows(spark, cms_grid_path(state_dir)) == expected


def test_quarantine_crash_at_marker_commit_then_replay(spark, tmp_path, monkeypatch):
    ev = _events(spark, "event_id", "user_id", "ts")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 != 0)

    clean_dirs = _quarantine_dirs(tmp_path, "_clean")
    clean = make_quarantine_handler(*clean_dirs)
    clean(b0, 0)
    clean(b1, 1)
    expected = _routes(spark, clean_dirs[0], clean_dirs[1], b0.schema)
    expected_wm = quarantine_watermark(clean_dirs[2])

    main_dir, quar_dir, meta_dir = _quarantine_dirs(tmp_path)
    handle = make_quarantine_handler(main_dir, quar_dir, meta_dir)
    ledger = BatchLedger(meta_dir)
    handle(b0, 0)
    wm_after_b0 = quarantine_watermark(meta_dir)
    _crash_next_marker_commit(monkeypatch, meta_dir)
    with pytest.raises(OSError, match="injected"):
        handle(b1, 1)
    _assert_orphan_not_counted(ledger, 1, [0])
    # the uncommitted batch did not advance the watermark, so its
    # re-delivery routes against the ORIGINAL one
    assert quarantine_watermark(meta_dir) == wm_after_b0

    handle(b1, 1)
    assert ledger.ids() == [0, 1]
    assert _routes(spark, main_dir, quar_dir, b0.schema) == expected
    assert quarantine_watermark(meta_dir) == expected_wm


def _cdc_replica_run(spark, root: str, monkeypatch=None):
    """Bootstrap drain, then a merge + delete drain through the real
    ``txtable_cdc`` stream; with ``monkeypatch`` the second batch's marker
    commit crashes once and the drain is re-run, so the checkpoint
    re-delivers the same batch_id."""
    from h2outility_spark.workload_streaming import _cdc_replica_runner

    src, replica, drain = _cdc_replica_runner(spark, root, "k")
    ledger = BatchLedger(os.path.join(root, "applied"))
    src.append(spark.createDataFrame([(k, f"v{k}") for k in range(6)], "k int, v string"))
    drain()
    src.merge_upsert(spark.createDataFrame([(2, "V2"), (7, "v7")], "k int, v string"))
    src.delete_keys(spark.createDataFrame([(4,)], "k int"))
    if monkeypatch is not None:
        _crash_next_marker_commit(monkeypatch, ledger.root)
        with pytest.raises(Exception, match="injected"):
            drain()
        _assert_orphan_not_counted(ledger, 1, [0])
    drain()
    assert ledger.ids() == [0, 1]
    return sorted((r["k"], r["v"]) for r in replica.snapshot().collect())


def test_cdc_replica_crash_at_marker_commit_then_replay(spark, tmp_path, monkeypatch):
    expected = _cdc_replica_run(spark, str(tmp_path / "clean"))
    assert expected == [(0, "v0"), (1, "v1"), (2, "V2"), (3, "v3"), (5, "v5"), (7, "v7")]
    assert _cdc_replica_run(spark, str(tmp_path / "crash"), monkeypatch) == expected
