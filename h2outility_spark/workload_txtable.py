"""TxTable (transactional lakehouse) family: drive the
merge/commit/time-travel/change-feed machinery end to end inside a query —
appends, copy-on-write MERGE and DELETE, compaction and Z-order, vacuum,
clones and branches, concurrent writers, incremental view maintenance off
the change feed — and check the resulting FRAMES against a DuckDB oracle
that states the expected table algebraically over ``orders``.

Each query builds a fresh deterministic table in a temp dir from the
``orders`` parquet at the given sf_dir, then reads it back through the
surface under test. The oracle never sees the table — it recomputes what
the lakehouse semantics REQUIRE the result to be, so a green row certifies
copy-on-write merge, manifest versioning and the read surface together,
not just parquet round-tripping.

Reference parity: the commit/rollback semantics mirror the reference's
edit-session save/restore discipline (``edit_service.py:371-443``),
re-expressed as an immutable-manifest lakehouse rather than an ORM
transaction.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from h2outility_spark.session import query_cache
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.storage_tx import TxTable
from h2outility_spark.streaming.incremental import drain_available_now
from h2outility_spark.workload import _t, query, scratch_dir


def _orders_base(spark, sf_dir):
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "txtable_changes",
    oracle="""
    WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice * 2 AS DOUBLE) AS o_totalprice,
           'insert' AS _change_type
    FROM base WHERE o_orderkey % 100 < 2
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'insert' AS _change_type
    FROM base WHERE o_orderkey % 100 = 10
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'delete' AS _change_type
    FROM base WHERE o_orderkey % 100 < 2
    """,
    description=(
        "Row-level change feed (Delta CDF shape) between an append and a "
        "copy-on-write merge: updated keys appear as delete+insert pairs, new "
        "keys as inserts, rewritten-but-identical rows cancel; oracle states the "
        "expected feed algebraically over orders"
    ),
)
def q_txtable_changes(spark, sf_dir):
    base = _orders_base(spark, sf_dir)
    t = TxTable(spark, scratch_dir("h2ou_txchanges_"), key_cols=["o_orderkey"])
    v1 = t.append(base.filter(F.col("o_orderkey") % 100 < 10))
    updates = base.filter(F.col("o_orderkey") % 100 < 2).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    inserts = base.filter(F.col("o_orderkey") % 100 == 10)
    v2 = t.merge_upsert(updates.unionByName(inserts))
    return t.changes(v1, v2).select(
        "o_orderkey", "o_custkey", "o_totalprice", "_change_type"
    )


@query(
    "txtable_snapshot_as_of",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CASE WHEN o_orderkey % 100 < 1 THEN o_totalprice * 3
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 100 < 3
    """,
    description=(
        "Timestamp time travel: snapshot_as_of at the target version's own "
        "manifest commit stamp reproduces exactly the mid-history table state "
        "(append + first merge, untouched by the later merge); oracle restates "
        "that state over orders"
    ),
)
def q_txtable_snapshot_as_of(spark, sf_dir):
    base = _orders_base(spark, sf_dir)
    t = TxTable(spark, scratch_dir("h2ou_txasof_"), key_cols=["o_orderkey"])
    t.append(base.filter(F.col("o_orderkey") % 100 < 3))
    t.merge_upsert(
        base.filter(F.col("o_orderkey") % 100 < 1).withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        )
    )
    # The cut is the TARGET VERSION'S OWN manifest stamp — no wall-clock
    # read, so no VM stall or clock skew can move the cut relative to the
    # history. The only requirement is that the NEXT commit stamps strictly
    # later; spin on the same clock the manifests use until that holds
    # (nanoseconds in practice; a fixed sleep was the old, stall-fragile
    # form of this guarantee).
    cut = t.history()[-1]["committed_at"]
    while time.time() <= cut:
        time.sleep(0.001)
    t.merge_upsert(base.filter(F.col("o_orderkey") % 100 >= 97))
    return t.snapshot_as_of(cut).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "txtable_compact_snapshot",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, CAST(TRUE AS BOOLEAN) AS compacted
    FROM orders WHERE o_orderkey % 100 < 8
    """,
    description=(
        "OPTIMIZE invariant: four small appends, then compact_files rewrites "
        "them into fewer range-clustered files while the SNAPSHOT stays "
        "row-identical (the oracle states the union of the appends); the "
        "compacted flag carries the measured file-count drop into the hash"
    ),
)
def q_txtable_compact_snapshot(spark, sf_dir):
    base = _orders_base(spark, sf_dir).filter(F.col("o_orderkey") % 100 < 8)
    t = TxTable(spark, scratch_dir("h2ou_txcompact_"), key_cols=["o_orderkey"])
    for k in range(4):
        t.append(base.filter(F.col("o_orderkey") % 4 == k))
    n_before = len(t.files())
    t.compact_files(target_rows=10_000_000, small_rows=10_000_000)
    n_after = len(t.files())
    return t.snapshot().select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(bool(n_after < n_before)).alias("compacted"),
    )


@query(
    "txtable_evolve_schema",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_band
    FROM orders WHERE o_orderkey % 100 < 5
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'late' AS o_band
    FROM orders WHERE o_orderkey % 100 = 5
    """,
    description=(
        "ADD-COLUMN schema evolution: a merge with evolve_schema=True appends a "
        "new column to the table schema; carried-over files are never rewritten "
        "and surface the new column as NULL, which the oracle states exactly"
    ),
)
def q_txtable_evolve_schema(spark, sf_dir):
    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = TxTable(spark, scratch_dir("h2ou_txevolve_"), key_cols=["o_orderkey"])
    t.append(base.filter(F.col("o_orderkey") % 100 < 5))
    late = base.filter(F.col("o_orderkey") % 100 == 5).withColumn("o_band", F.lit("late"))
    t.merge_upsert(late, evolve_schema=True)
    return t.snapshot().select("o_orderkey", "o_totalprice", "o_band")


@query(
    "txtable_restore",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 4
    """,
    description=(
        "Forward rollback: after a merge mutates the table, restore(v1) commits "
        "a NEW version carrying v1's file list — the snapshot is exactly the "
        "pre-merge state (stated by the oracle) and history stays append-only"
    ),
)
def q_txtable_restore(spark, sf_dir):
    base = _orders_base(spark, sf_dir)
    t = TxTable(spark, scratch_dir("h2ou_txrestore_"), key_cols=["o_orderkey"])
    v1 = t.append(base.filter(F.col("o_orderkey") % 100 < 4))
    t.merge_upsert(
        base.filter(F.col("o_orderkey") % 100 < 2).withColumn(
            "o_totalprice", F.col("o_totalprice") * 5
        )
    )
    t.restore(v1)
    return t.snapshot().select("o_orderkey", "o_custkey", "o_totalprice")


# -- TxTable clone independence ----------------------------------------------

TXTABLE_CLONE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 100 < 6
"""


@query(
    "txtable_clone",
    oracle=TXTABLE_CLONE_ORACLE,
    description="Clone independence: hard-link clone stays at the pre-mutation snapshot",
)
def q_txtable_clone(spark, sf_dir):
    """Clone independence: hard-link clone a table, then MUTATE the
    source — the clone's snapshot must still be the exact pre-mutation
    content (the experiment-branch guarantee), which the oracle states
    over orders."""
    from h2outility_spark.storage_tx import TxTable

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    src = TxTable(spark, scratch_dir("h2ou_txclonesrc_"), key_cols=["o_orderkey"])
    src.append(base.filter(F.col("o_orderkey") % 100 < 6))
    clone = src.clone(scratch_dir("h2ou_txclonedst_") + "/t")
    src.merge_upsert(
        base.filter(F.col("o_orderkey") % 100 < 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 7
        )
    )
    return clone.snapshot().select("o_orderkey", "o_custkey", "o_totalprice")


# -- TxTable vacuum invariance ------------------------------------------------

TXTABLE_VACUUM_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice * 4 AS DOUBLE) AS o_totalprice,
       CAST(TRUE AS BOOLEAN) AS reclaimed
FROM orders WHERE o_orderkey % 100 < 3
"""


@query(
    "txtable_vacuum",
    oracle=TXTABLE_VACUUM_ORACLE,
    description="Vacuum reclaims stranded files while the live snapshot is invariant",
)
def q_txtable_vacuum(spark, sf_dir):
    """Vacuum invariance: after an overwrite strands the original files,
    vacuum(keep_versions=1) physically deletes them while the LIVE
    snapshot stays exactly the overwrite's content; the reclaimed flag
    carries the measured deletion count into the hash (retention 0 is
    safe here — the builder is the only writer of its scratch table)."""
    from h2outility_spark.storage_tx import TxTable

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    t = TxTable(spark, scratch_dir("h2ou_txvacuum_"), key_cols=["o_orderkey"])
    t.append(base.filter(F.col("o_orderkey") % 100 < 3))
    t.overwrite(
        base.filter(F.col("o_orderkey") % 100 < 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 4
        )
    )
    deleted = t.vacuum(keep_versions=1, retention_seconds=0)
    return t.snapshot().select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(bool(len(deleted) > 0)).alias("reclaimed"),
    )


# -- TxTable z-order compaction invariance ------------------------------------

TXTABLE_ZORDER_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(TRUE AS BOOLEAN) AS compacted
FROM orders WHERE o_orderkey % 100 < 8
"""


@query(
    "txtable_zorder",
    oracle=TXTABLE_ZORDER_ORACLE,
    description="Z-order compaction: Morton-clustered rewrite, logically identical table",
)
def q_txtable_zorder(spark, sf_dir):
    """Z-ORDER compaction invariance: four small appends on a TWO-key
    table, then compact_files(zorder=True) rewrites them Morton-clustered
    across both key axes — physically reordered, logically identical (the
    oracle states the union of the appends). The clustering's payoff
    (tight per-file min/max on EVERY axis) is proven by the storage
    tests; this pair makes the data-identity half driver-hashable."""
    from h2outility_spark.storage_tx import TxTable

    base = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") % 100 < 8)
    )
    t = TxTable(spark, scratch_dir("h2ou_txzorder_"), key_cols=["o_custkey", "o_orderkey"])
    for k in range(4):
        t.append(base.filter(F.col("o_orderkey") % 4 == k))
    n_before = len(t.files())
    t.compact_files(target_rows=10_000_000, small_rows=10_000_000, zorder=True)
    n_after = len(t.files())
    return t.snapshot().select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.lit(bool(n_after < n_before)).alias("compacted"),
    )


# -- concurrent appends through the commit-retry path -------------------------

CONCURRENT_APPENDS_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderkey % 100 < 8
"""


@query(
    "txtable_concurrent_appends",
    oracle=CONCURRENT_APPENDS_ORACLE,
    description="Three concurrent TxTable appenders serialized through the commit-retry path; oracle states the lossless union",
)
def q_txtable_concurrent_appends(spark, sf_dir):
    """Three writers appending AT THE SAME TIME (own table handles, own
    manifest reads) after a base append: all four read-modify-commit
    cycles race for version slots, the atomic ``os.link`` check-and-put
    hands each version to exactly one writer, and each loser rebuilds on
    the NEW parent in the one commit loop (storage_tx.py::TxTable._publish).
    The oracle states the lossless union — a lost update (a retry that
    re-read a stale parent, or a winner whose files the loser dropped)
    flips the hash.
    """
    import threading

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    tdir = scratch_dir("h2ou_txconc_") + "/t"
    t = TxTable(spark, tdir, key_cols=["o_orderkey"])
    t.append(slice_mod(0, 2))

    errs: list[Exception] = []

    def writer(lo: int, hi: int) -> None:
        try:
            TxTable(spark, tdir, key_cols=["o_orderkey"]).append(slice_mod(lo, hi))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(lo, hi))
        for lo, hi in ((2, 4), (4, 6), (6, 8))
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    return t.snapshot().select("o_orderkey", "o_custkey", "o_totalprice")


# -- manifest-pruned range scan -------------------------------------------------

TXTABLE_PRUNE_ORACLE = """
SELECT o_orderkey, o_orderkey % 1000 AS key_bucket, o_totalprice
FROM orders
WHERE o_orderkey % 100 < 4 AND o_orderkey % 1000 BETWEEN 250 AND 499
"""


@query(
    "txtable_prune_scan",
    oracle=TXTABLE_PRUNE_ORACLE,
    description="Manifest min/max file-pruned range scan, data-identical to the plain filter (1-of-4 files read, plan-pinned)",
)
def q_txtable_prune_scan(spark, sf_dir):
    """Manifest min/max range scan: four appends land bucket-disjoint
    files ([0,250), [250,500), [500,750), [750,1000) on ``key_bucket``),
    then ``TxTable.scan`` answers a [250, 499] range by reading ONLY the
    overlapping file — the file-level prune comes from manifest stats,
    no storage listing (storage_tx.py::scan; the read-only-one-file
    economics are pinned by tests/test_plan_audit.py's file-count
    assertion). The oracle is the plain filter over the source rows.
    """
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 4)
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 1000).alias("key_bucket"),
            "o_totalprice",
        )
    )
    tdir = scratch_dir("h2ou_txprune_") + "/t"
    t = TxTable(spark, tdir, key_cols=["key_bucket"])
    for lo, hi in ((0, 250), (250, 500), (500, 750), (750, 1000)):
        part = base.filter((F.col("key_bucket") >= lo) & (F.col("key_bucket") < hi))
        t.append(part.coalesce(1))
    return t.scan("key_bucket", 250, 499)


# -- merge racing an append through the documented conflict contract ----------

CONCURRENT_MERGE_ORACLE = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 100 < 2
            THEN CAST(o_totalprice * 2 AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey % 100 < 6
"""


@query(
    "txtable_concurrent_merge",
    oracle=CONCURRENT_MERGE_ORACLE,
    description="merge_upsert racing a concurrent append: CommitConflict surfaced, caller re-merges on the moved snapshot",
)
def q_txtable_concurrent_merge(spark, sf_dir):
    """A MERGE racing an APPEND on the same table. The appended keys
    interleave with the update keys (``o_orderkey % 100``), so the
    appended segment's key range meets the merge's and Delta's conflict
    check raises CommitConflict to a merge that loses the race; the merge
    writer implements the documented contract — catch CommitConflict and
    re-run the whole merge against the new snapshot. Whichever
    interleaving wins, the final state is the same: the appended keys
    land untouched and the doubled prices apply exactly once to the
    update keys (disjoint from the appends). The oracle states that
    state; a lost append or a dropped update flips the hash. (A
    DOUBLE-applied update would not: merge_upsert is replace-by-key, so
    re-merging the same payload is idempotent by construction — that
    property is the operator's contract, not something this hash can
    probe.)
    """
    import threading

    from h2outility_spark.storage_tx import CommitConflict

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    tdir = scratch_dir("h2ou_txcmrg_") + "/t"
    t = TxTable(spark, tdir, key_cols=["o_orderkey"])
    t.append(slice_mod(0, 4))
    updates = slice_mod(0, 2).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    errs: list[Exception] = []

    def appender() -> None:
        try:
            TxTable(spark, tdir, key_cols=["o_orderkey"]).append(slice_mod(4, 6))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def merger() -> None:
        try:
            h = TxTable(spark, tdir, key_cols=["o_orderkey"])
            for _ in range(20):
                try:
                    h.merge_upsert(updates)
                    return
                except CommitConflict:
                    continue  # documented contract: re-merge on the new snapshot
            raise CommitConflict("merge lost the commit race 20 times")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=appender), threading.Thread(target=merger)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    return t.snapshot().select("o_orderkey", "o_custkey", "o_totalprice")


# -- TxTable commit-log certification -----------------------------------------

TXTABLE_HISTORY_ORACLE = """
WITH c AS (
  SELECT CAST(count(*) FILTER (o_orderkey % 100 < 3) AS BIGINT) AS c3,
         CAST(count(*) FILTER (o_orderkey % 100 < 4) AS BIGINT) AS c4,
         CAST(count(*) FILTER (o_orderkey % 100 < 5) AS BIGINT) AS c5
  FROM orders
)
SELECT CAST(0 AS BIGINT) AS version, 'append' AS op, c3 AS n_rows FROM c
UNION ALL SELECT 1, 'append', c5 FROM c
UNION ALL SELECT 2, 'overwrite', c4 FROM c
UNION ALL SELECT 3, 'merge', c4 FROM c
UNION ALL SELECT 4, 'restore', c5 FROM c
"""


@query(
    "txtable_history_rows",
    oracle=TXTABLE_HISTORY_ORACLE,
    description="Commit-log audit: version numbering, op labels, and every historical snapshot row count on one hash",
)
def q_txtable_history_rows(spark, sf_dir):
    """Commit-log certification: run a known five-op sequence (append,
    append, overwrite, merge-upsert of existing keys, restore to v1) and
    return, for EVERY version in ``history()``, its recorded op plus the
    row count of ``snapshot(version)`` — so the audit log's op labels,
    version numbering AND every historical snapshot's contents ride one
    driver hash. history() reads only top-level manifests (O(versions));
    the five bounded per-version counts are the certification probe, not
    a scale pattern.
    """
    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    tdir = scratch_dir("h2ou_txhist_") + "/t"
    t = TxTable(spark, tdir, key_cols=["o_orderkey"])
    t.append(slice_mod(0, 3))
    t.append(slice_mod(3, 5))
    t.overwrite(slice_mod(0, 4))
    t.merge_upsert(slice_mod(0, 1).withColumn("o_totalprice", F.col("o_totalprice") * 3))
    t.restore(1)
    rows = [
        (int(h["version"]), str(h["op"]), int(t.snapshot(h["version"]).count()))
        for h in t.history()
    ]
    return spark.createDataFrame(rows, "version long, op string, n_rows long")


# -- incremental view maintenance off the TxTable CDF -----------------------------

TXTABLE_IVM_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 < 8
),
upd AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 500 AS cents
  FROM orders WHERE o_orderkey % 4 = 0
),
final AS (
  SELECT * FROM upd
  UNION ALL
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
)
SELECT cust_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM final GROUP BY cust_bucket
"""


@query(
    "txtable_incremental_agg",
    oracle=TXTABLE_IVM_ORACLE,
    description="incremental view maintenance: (count,sum) aggregate advanced from the CDF only, O(changed rows)",
)
def q_txtable_incremental_agg(spark, sf_dir):
    """Incremental view maintenance, hash-proven equivalent to a
    recompute: materialize a per-bucket (count, sum) aggregate at v1,
    run a mixed upsert (updates to existing keys + brand-new keys)
    through merge_upsert, then advance the view using ONLY the v1→v2
    change feed (``ivm.maintain_grouped_agg`` — O(changed rows), never
    O(table)) and return the maintained view. The oracle recomputes the
    aggregate from the final state algebraically — any drift between
    maintain-from-CDF and recompute flips the hash. Measures are integer
    cents, so maintained ≡ recomputed exactly (integer addition is
    associative; no float accumulation-order escape hatch)."""
    from h2outility_spark.operators import ivm
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_ivm_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    old_view = ivm.aggregate_state(t.snapshot(v1), ["cust_bucket"], "cents")
    v2 = t.merge_upsert(upd)
    return ivm.maintain_grouped_agg(old_view, t.changes(v1, v2), ["cust_bucket"], "cents")


# -- MIN/MAX incremental maintenance (the non-self-maintainable aggregates) -----

TXTABLE_MINMAX_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 < 8
),
upd AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 500 AS cents
  FROM orders WHERE o_orderkey % 4 = 0
),
final AS (
  SELECT * FROM upd
  UNION ALL
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
)
SELECT cust_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM final GROUP BY cust_bucket
"""


@query(
    "txtable_incremental_minmax",
    oracle=TXTABLE_MINMAX_ORACLE,
    description="sound bounded MIN/MAX IVM off the CDF: kept-k state, horizon-gated admission, survivors-triggered targeted rescan",
)
def q_txtable_incremental_minmax(spark, sf_dir):
    """MIN/MAX under deletes — the aggregates plain IVM cannot maintain —
    advanced from the CDF with BOUNDED per-key state (k=2 smallest +
    largest kept per bucket, ``ivm.minmax_state``): a deleted kept value
    falls out of the multiset, a deleted beyond-horizon value vanishes
    without effect, and a bucket whose kept set empties is rebuilt by the
    TARGETED rescan (semi-join on exactly those buckets against the post-
    merge snapshot — never a full recompute). k=2 is chosen deliberately
    small so the merge's delete+insert pairs exercise the rescan path on
    real data. The oracle recomputes min/max/count from the final state —
    any drift in the kept-set algebra or the rescan targeting flips the
    hash."""
    from h2outility_spark.operators import ivm
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_ivmmm_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    old_state = ivm.minmax_state(t.snapshot(v1), ["cust_bucket"], "cents")
    v2 = t.merge_upsert(upd)
    new_state = ivm.maintain_grouped_minmax(
        old_state, t.changes(v1, v2), t.snapshot(v2), ["cust_bucket"], "cents"
    )
    return new_state.select(
        "cust_bucket",
        F.col("n").alias("n_orders"),
        F.element_at("kmin", 1).alias("min_cents"),
        F.element_at("kmax", 1).alias("max_cents"),
    )


# -- snapshot-isolation reader racing a writer -----------------------------------

READER_ISOLATION_ORACLE = """
SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
FROM orders WHERE o_orderkey % 10 < 8
"""


@query(
    "txtable_reader_isolation",
    oracle=READER_ISOLATION_ORACLE,
    description="snapshot isolation race: pinned v1 reader materializes WHILE a writer merges + compacts",
)
def q_txtable_reader_isolation(spark, sf_dir):
    """Snapshot isolation under a real race: a reader pins version v1,
    then MATERIALIZES it while a concurrent writer thread merges an
    upsert batch AND compacts the table (both create new versions and
    rewrite files). The pinned read must return exactly v1's content no
    matter how the interleaving lands — copy-on-write means old files
    stay on disk until vacuum, and the v1 manifest is immutable. The
    oracle states v1 algebraically; any torn read, manifest mutation, or
    premature file reuse flips the hash."""
    import threading

    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_riso_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    pinned = query_cache(t.snapshot(v1))

    errs: list[Exception] = []

    def writer() -> None:
        try:
            t.merge_upsert(upd)
            t.compact_files()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=writer)
    th.start()
    # materialize the pinned snapshot WHILE the writer commits new versions
    n_pinned = pinned.count()
    th.join()
    assert not errs, errs
    assert n_pinned > 0
    return pinned.select("o_orderkey", "cust_bucket", "cents")


# -- vacuum retention guard under a pinned reader ----------------------------------

VACUUM_RETENTION_ORACLE = READER_ISOLATION_ORACLE


@query(
    "txtable_vacuum_retention",
    oracle=VACUUM_RETENTION_ORACLE,
    description="vacuum must refuse to reclaim files inside the retention window while a pinned reader holds v1",
)
def q_txtable_vacuum_retention(spark, sf_dir):
    """The GC-safety contract on a hash: a reader pins v1, a writer
    merges (making v1's files logically dead) and then VACUUMS — but
    every dead file is younger than the retention window, so vacuum must
    refuse to reclaim it and the pinned v1 read must still see whole
    files. If vacuum ignored retention (or retention bookkeeping used
    the wrong timestamp), the pinned scan would lose rows or die on a
    missing file — either flips the hash. This is the invariant that
    makes long-running 100 TB readers safe to run concurrently with
    compaction + GC."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_vret_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    pinned = t.snapshot(v1)
    t.merge_upsert(upd)
    # keep_versions=1 would allow reclaiming v1's dead files — only the
    # age-based retention window protects the pinned reader here
    removed = t.vacuum(keep_versions=1, retention_seconds=3600.0)
    assert removed == [], f"vacuum reclaimed inside the retention window: {removed}"
    return pinned.select("o_orderkey", "cust_bucket", "cents")


# -- OPTIMIZE ZORDER under a live pinned reader ------------------------------------

#: same base slice as the reader-isolation race: the pinned snapshot must
#: be byte-identical to the pre-race table no matter what the writer does
ZORDER_RACE_ORACLE = """
SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
FROM orders WHERE o_orderkey % 10 < 8
"""


@query(
    "txtable_zorder_race",
    oracle=ZORDER_RACE_ORACLE,
    description="snapshot isolation through a physical rewrite: pinned v2 reader vs merge + OPTIMIZE ZORDER",
)
def q_txtable_zorder_race(spark, sf_dir):
    """The maintenance race the certified pair set still lacked: a reader
    pins a snapshot and materializes it WHILE a writer thread merges new
    rows and then runs OPTIMIZE ZORDER (``compact_files(zorder=True)`` —
    a multi-axis Morton REWRITE of the reader's own data files). Snapshot
    isolation must hold through a physical rewrite, not just through
    appends: the manifest pins FILES, compaction only ever adds new files
    and publishes a new version, and vacuum (not run here) is the only
    thing that may reclaim the old ones. The pinned frame rides the hash;
    the oracle restates the pre-race table."""
    import threading

    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(
        spark, scratch_dir("h2ou_zrace_") + "/t", key_cols=["cust_bucket", "o_orderkey"]
    )
    # two appends -> at least two data files, so the z-order compaction
    # genuinely rewrites multi-file state under the pinned reader
    t.append(base.filter(F.col("o_orderkey") % 2 == 0))
    v2 = t.append(base.filter(F.col("o_orderkey") % 2 == 1))
    pinned = query_cache(t.snapshot(v2))

    errs: list[Exception] = []

    def writer() -> None:
        try:
            t.merge_upsert(upd)
            t.compact_files(target_rows=10_000_000, small_rows=10_000_000, zorder=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=writer)
    th.start()
    n_pinned = pinned.count()  # materialize DURING the rewrite
    th.join()
    assert not errs, errs
    assert n_pinned > 0
    return pinned.select("o_orderkey", "cust_bucket", "cents")


# -- two-way clone divergence ----------------------------------------------------------

CLONE_DIVERGENCE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
)
SELECT 'orig' AS side, o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN cents + 111 ELSE cents END AS cents
FROM base
UNION ALL
SELECT 'clone' AS side, o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 1 THEN cents + 222 ELSE cents END AS cents
FROM base
"""


@query(
    "txtable_clone_divergence",
    oracle=CLONE_DIVERGENCE_ORACLE,
    description="two-way clone isolation: source and hard-link fork both diverge, source also compacts",
)
def q_txtable_clone_divergence(spark, sf_dir):
    """TWO-WAY clone isolation — the half the certified ``txtable_clone``
    does not check: after a hard-link clone, BOTH sides diverge (the
    source merges one update set and COMPACTS — rewriting files the
    clone still links to; the clone merges a different set), and both
    final states ride one hash. Writes on the fork must never leak back
    into the source and vice versa, and the source's compaction must not
    disturb the clone's linked files (the inode survives until both
    sides drop it). This is the experiment-branch contract a corpus
    team relies on: fork, try a cleaning recipe, compare, throw away."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 6)
        .select("o_orderkey", "o_custkey", cents.alias("cents"))
    )
    upd_a = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "cents", F.col("cents") + F.lit(111)
    )
    upd_b = base.filter(F.col("o_orderkey") % 3 == 1).withColumn(
        "cents", F.col("cents") + F.lit(222)
    )

    src = TxTable(spark, scratch_dir("h2ou_cdvg_src_") + "/t", key_cols=["o_orderkey"])
    src.append(base)
    fork = src.clone(scratch_dir("h2ou_cdvg_dst_") + "/t")
    src.merge_upsert(upd_a)
    src.compact_files(target_rows=10_000_000, small_rows=10_000_000)
    fork.merge_upsert(upd_b)
    orig = src.snapshot().withColumn("side", F.lit("orig"))
    clone = fork.snapshot().withColumn("side", F.lit("clone"))
    return orig.unionByName(clone).select("side", "o_orderkey", "o_custkey", "cents")


# -- named branch + merge-back: the lakehouse experiment loop ------------------------

TXBRANCH_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
),
newrows AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 = 6
)
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN cents + 333 ELSE cents END AS cents
FROM base
UNION ALL
SELECT o_orderkey, o_custkey, cents FROM newrows
"""


@query(
    "txtable_branch_merge_back",
    oracle=TXBRANCH_ORACLE,
    description="named TxTable branch workflow: branch, experiment, merge net CDF delta back into advanced main",
)
def q_txtable_branch_merge_back(spark, sf_dir):
    """The full named-branch workflow the Delta/Iceberg branch feature
    exists for — branch, experiment, merge BACK — on TxTable's hard-link
    clone primitive (NEW API: ``branch`` / ``branches`` /
    ``branch_table`` / ``merge_from_branch``). Main is appended while
    the branch diverges (a cleaning recipe applied as merge_upsert), and
    the merge-back reduces the branch's CDF-since-fork to its net
    inserted rows and upserts them into main in ONE commit. The final
    main snapshot rides the hash: branch edits present, main's
    independent appends preserved, nothing duplicated — which a
    merge-back that replayed the whole branch (not just its delta)
    or leaked the fork's shared files could not produce."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    newrows = orders.filter(F.col("o_orderkey") % 100 == 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    upd = base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "cents", F.col("cents") + F.lit(333)
    )

    main = TxTable(spark, scratch_dir("h2ou_brnch_") + "/t", key_cols=["o_orderkey"])
    main.append(base)
    br = main.branch("fix")
    br.merge_upsert(upd)        # the experiment, on the branch
    main.merge_upsert(newrows)  # main advances independently meanwhile
    assert main.branches() == ["fix"], main.branches()
    main.merge_from_branch(main.branch_table("fix"))
    return main.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- TxTable DELETE: the missing third verb --------------------------------------------

TXDELETE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 8
),
kept AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
merged AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 99 AS cents
  FROM orders WHERE o_orderkey % 100 = 8
)
SELECT * FROM kept UNION ALL SELECT * FROM merged
"""


@query(
    "txtable_delete_keys",
    oracle=TXDELETE_ORACLE,
    description="TxTable copy-on-write DELETE by key with two-level file pruning, then a merge on the thinned table",
)
def q_txtable_delete_keys(spark, sf_dir):
    """Copy-on-write DELETE by key (NEW TxTable API ``delete_keys``) —
    the verb retention erasure and right-to-be-forgotten pipelines need
    next to append and merge: matching keys anti-joined out of only the
    OVERLAPPING files (same two-level min/max pruning as merge_upsert;
    disjoint files carry by reference, emptied files vanish), then a
    normal merge lands on the thinned table to prove the delete commit
    composes. Final snapshot on the hash; the deleted rows' absence AND
    the survivors' presence both certify (a delete that dropped a whole
    overlapping file's survivors, or missed a key, flips it)."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 8).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    merged = orders.filter(F.col("o_orderkey") % 100 == 8).select(
        "o_orderkey", "o_custkey", (cents + F.lit(99)).alias("cents")
    )
    t = TxTable(spark, scratch_dir("h2ou_del_") + "/t", key_cols=["o_orderkey"])
    t.append(base)
    t.delete_keys(base.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"))
    t.merge_upsert(merged)
    return t.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- branch merge-back with tombstones --------------------------------------------------

TXTOMB_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
),
newrows AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 = 6
),
final_base AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN cents + 700 ELSE cents END AS cents
  FROM base
  WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0)
)
SELECT * FROM final_base UNION ALL SELECT * FROM newrows
"""


@query(
    "txtable_branch_tombstones",
    oracle=TXTOMB_ORACLE,
    description="merge_from_branch(propagate_deletes=True): branch deletes tombstone, updates never do",
)
def q_txtable_branch_tombstones(spark, sf_dir):
    """The delete-propagating branch merge the certified
    ``txtable_branch_merge_back`` declares out of scope by default:
    the branch DELETES a fifth of the rows (``delete_keys``) and updates
    a seventh (+700), main advances independently, and the merge-back
    runs with ``propagate_deletes=True`` — keys the branch deleted
    WITHOUT re-inserting are tombstoned out of main, while a key that
    was deleted AND re-upserted (the %35 overlap) is an update, never a
    tombstone. That asymmetry is exactly what the hash certifies: a
    merge that replayed raw CDF delete rows would also kill the %35
    keys; one that ignored deletes would keep the %5 keys."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    newrows = orders.filter(F.col("o_orderkey") % 100 == 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    upd = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "cents", F.col("cents") + F.lit(700)
    )

    main = TxTable(spark, scratch_dir("h2ou_tomb_") + "/t", key_cols=["o_orderkey"])
    main.append(base)
    br = main.branch("clean")
    br.delete_keys(base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"))
    br.merge_upsert(upd)          # %35 keys come back: update, not tombstone
    main.merge_upsert(newrows)    # main advances independently meanwhile
    main.merge_from_branch(main.branch_table("clean"), propagate_deletes=True)
    return main.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- CDC replication: replica advanced only by the change feed --------------------------

CDF_REPLICA_ORACLE = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 2 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 111
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
FROM orders
WHERE o_orderkey % 100 < 5 AND o_orderkey % 9 <> 0
"""


@query(
    "txtable_cdf_replica",
    oracle=CDF_REPLICA_ORACLE,
    description="Cross-table CDC replication: replica advanced only by the per-version change feed equals the source",
)
def q_txtable_cdf_replica(spark, sf_dir):
    """Cross-table CDC replication — the pattern that keeps a downstream
    copy (another region, a serving store) in sync at O(changes), never
    O(table): the replica bootstraps from the source's version 0, then
    advances ONLY by consuming ``changes(v-1, v)`` per committed version
    — inserts ``merge_upsert``'d, net deletes (delete rows anti-joined
    against insert keys) ``delete_keys``'d. The source runs all three
    verbs (append, merge +111 on even keys, delete of the %9 keys) so
    the feed carries every change type; the replica's final snapshot
    must equal the source's bit-for-bit, which the oracle's direct
    restatement of the final state certifies. The per-version loop is
    driver-side but bounded by the COMMIT COUNT (3 here), never by data
    volume — each step is two distributed jobs over just the changed
    files."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 5).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    upd = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "cents", F.col("cents") + F.lit(111)
    )

    root = scratch_dir("h2ou_repl_")
    src = TxTable(spark, root + "/src", key_cols=["o_orderkey"])
    v0 = src.append(base)
    src.merge_upsert(upd)
    src.delete_keys(base.filter(F.col("o_orderkey") % 9 == 0).select("o_orderkey"))

    replica = TxTable(spark, root + "/replica", key_cols=["o_orderkey"])
    replica.append(src.snapshot(v0))  # bootstrap at the fork version
    for v in range(v0 + 1, src.latest_version() + 1):
        cdf = src.changes(v - 1, v)
        inserts = cdf.filter(F.col("_change_type") == "insert").drop("_change_type")
        tombstones = (
            cdf.filter(F.col("_change_type") == "delete")
            .select("o_orderkey")
            .join(inserts.select("o_orderkey").distinct(), "o_orderkey", "left_anti")
            .distinct()
        )
        replica.delete_keys(tombstones)
        replica.merge_upsert(inserts)
    return replica.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- three-way branch divergence report --------------------------------------------------

TXCONFLICTS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
),
conf AS (
  SELECT o_orderkey FROM base
  WHERE o_orderkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 5 = 0)
)
SELECT b.o_orderkey,
       b.cents AS cents_main,
       b.cents + 111 AS cents_br1,
       CASE WHEN b.o_orderkey % 5 = 0 THEN NULL
            WHEN b.o_orderkey % 4 = 0 THEN b.cents + 222 END AS cents_br2,
       CASE WHEN b.o_orderkey % 5 = 0 THEN b.cents + 111
            ELSE greatest(b.cents + 111, b.cents + 222) END AS resolved_cents
FROM base b JOIN conf USING (o_orderkey)
"""


@query(
    "txtable_branch_conflicts",
    oracle=TXCONFLICTS_ORACLE,
    description="Two-branch divergence report: keys touched on both sides since the fork, with both values",
)
def q_txtable_branch_conflicts(spark, sf_dir):
    """The divergence report a three-way merge needs BEFORE choosing a
    resolution policy (NEW TxTable API ``branch_conflicts``): two
    branches fork from the same main — one updates every third key
    (+111), the other updates every fourth (+222) and DELETES every
    fifth — and the report lists exactly the keys touched on BOTH
    (%3 ∩ (%4 ∪ %5)), each with main's value, both branches' values
    (NULL where a branch deleted the key — a delete IS a conflicting
    touch), and a deterministic keep-the-greater resolution beside
    them. A key updated then deleted on the second branch (%60) nets to
    a delete in its CDF and still conflicts. Keys touched on only ONE
    branch never appear — the asymmetry the report exists to expose."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    main = TxTable(spark, scratch_dir("h2ou_conf_") + "/t", key_cols=["o_orderkey"])
    main.append(base)
    br1 = main.branch("fix1")
    br2 = main.branch("fix2")
    br1.merge_upsert(
        base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "cents", F.col("cents") + F.lit(111)
        )
    )
    br2.merge_upsert(
        base.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "cents", F.col("cents") + F.lit(222)
        )
    )
    br2.delete_keys(base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"))

    conf = main.branch_conflicts(main.branch_table("fix1"), main.branch_table("fix2"))
    cmain = main.snapshot().select("o_orderkey", F.col("cents").alias("cents_main"))
    c1 = br1.snapshot().select("o_orderkey", F.col("cents").alias("cents_br1"))
    c2 = br2.snapshot().select("o_orderkey", F.col("cents").alias("cents_br2"))
    rep = (
        conf.join(cmain, "o_orderkey")
        .join(c1, "o_orderkey", "left")
        .join(c2, "o_orderkey", "left")
    )
    resolved = F.when(F.col("cents_br2").isNull(), F.col("cents_br1")).otherwise(
        F.greatest("cents_br1", "cents_br2")
    )
    return rep.select(
        "o_orderkey",
        "cents_main",
        "cents_br1",
        "cents_br2",
        resolved.alias("resolved_cents"),
    )


# -- three-way merge resolution ----------------------------------------------------------

RESOLVE_OURS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
)
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN cents + 100
            WHEN o_orderkey % 2 = 0 THEN cents + 5000
            ELSE cents END AS cents
FROM base
WHERE NOT (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)
"""


@query(
    "txtable_resolve_ours",
    oracle=RESOLVE_OURS_ORACLE,
    description="three-way merge resolution: branch's non-conflicting net changes land, conflicts keep main (ours wins)",
)
def q_txtable_resolve_ours(spark, sf_dir):
    """Three-way merge RESOLUTION (the step VERDICT r11 seeded after
    ``branch_conflicts``): main and a named branch BOTH advance after the
    fork — main bumps the %3 keys by +100 while the branch bumps the %2
    keys by +5000 and deletes the %5 keys — then
    ``resolve_from_branch`` (ours wins) applies ONLY the branch's
    non-conflicting net changes: conflicted keys (touched on both sides
    = the %3 ∩ (%2 ∪ %5) set) keep main's state, branch-only updates
    land, branch-only deletes tombstone. The oracle restates the
    resolved end state as one CASE: every %3 key carries main's +100
    (ours wins on conflict AND on main-only), %5-not-%3 keys are gone,
    %2-not-%3 survivors carry the branch's +5000. Cost is O(changes on
    either side) — two CDF diffs, one conflict join, the standard
    two-commit apply."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    base = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    root = scratch_dir("h2ou_resolve_")
    main = TxTable(spark, root + "/main", key_cols=["o_orderkey"])
    main.append(base)
    fork_v = main.latest_version()
    br = main.branch("exp")
    main.merge_upsert(
        base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "cents", F.col("cents") + F.lit(100)
        )
    )
    br.merge_upsert(
        base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "cents", F.col("cents") + F.lit(5000)
        )
    )
    br.delete_keys(base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"))
    main.resolve_from_branch(br, since_self=fork_v)
    return main.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- append-tail streaming source -------------------------------------------

@query(
    "txtable_stream_tail",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 100 < 6
    """,
    description=(
        "Append-tail streaming source (custom Python DataSource, table "
        "versions as offsets): two appends drained into a checkpointed "
        "parquet sink, two more appends + a compaction, a second drain "
        "resuming from the checkpoint — the oracle states the union of the "
        "appends exactly once (a row re-emitted by the compaction or the "
        "resume, or a dropped version, flips the row count)"
    ),
)
def q_txtable_stream_tail(spark, sf_dir):
    from h2outility_spark.sources.txtable_source import TxTableStreamDataSource

    spark.dataSource.register(TxTableStreamDataSource)
    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    tdir = scratch_dir("h2ou_txtail_") + "/t"
    out = scratch_dir("h2ou_txtailout_") + "/out"
    ckpt = scratch_dir("h2ou_txtailckpt_") + "/ckpt"

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    t = TxTable(spark, tdir, key_cols=["o_orderkey"])
    t.append(slice_mod(0, 2))
    t.append(slice_mod(2, 4))
    stream = spark.readStream.format("txtable_stream").option("path", tdir).load()

    drain_available_now(stream, ckpt, out)  # v1 + v2
    t.append(slice_mod(4, 5))
    # pure rewrite: the tail source must emit NOTHING for this version
    t.compact_files(target_rows=10_000_000, small_rows=10_000_000)
    t.append(slice_mod(5, 6))
    # resumes past v2, emits v3 + v5 only
    drain_available_now(stream, ckpt, out)

    return read_parquet(spark, out)
