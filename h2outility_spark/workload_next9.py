"""Round-14 registry additions: (PySpark fn, DuckDB oracle) pairs that
entered the registry in the round-14 rotation.

Coverage targets (the three VERDICT-r11 build directives):
  * ``stream_cdc_replica`` — the STREAMING form of the certified-batch
    CDC replication (``txtable_cdf_replica``): the replica is advanced
    ONLY by the new ``txtable_cdc`` Structured Streaming source
    (``sources/txtable_source.TxTableCdcDataSource``), which emits
    signed change rows for EVERY TxTable op — append, copy-on-write
    MERGE and DELETE included — with versions as offsets through one
    checkpoint across three drains. Each micro-batch is collapsed by
    ``net_changes`` (the telescoping multiset sum) and applied
    delete-then-merge under a replay-idempotent batch_id marker. This
    completes the reference's I2 incremental pattern
    (src/Utilities/DatasetUtilities.py:537-565) at lakehouse-CDC grade:
    the replica starts EMPTY and every row it ever holds arrived
    through the feed.
  * ``bloom_prefilter_revenue`` — the Bloom prefilter INSIDE a real
    TPC-H-shaped join pipeline (the q15/q21 shape: per-supplier revenue
    for a target supplier cohort): ``sketch.bloom_bits`` built from the
    small side, the big lineitem side probed by chained BROADCAST
    semi-joins (one codegen pass, zero shuffle of lineitem), the exact
    semi-join eliminating false positives, and the aggregate computed
    from the prefiltered rows. The oracle computes revenue from the
    PLAIN exact join — hash equality IS the no-false-negative law on
    real money — while candidate/total counts ride the hash to certify
    the reduction (the filter is md5-derived, so DuckDB rebuilds it
    bit-for-bit).
  * ``neardup_embedding_strict`` — embedding near-dup at the REALISTIC
    threshold (cos ≥ 0.85) the RP-LSH design actually targets: the test
    embeddings are near-orthogonal (no natural pair above cos 0.6), so
    the corpus is augmented with DETERMINISTIC planted near-dups
    (vec_id % 20 == 0, +0.05 per coordinate in double space — both
    engines build identical vectors; planted cosines land at
    0.91–0.95). An 8-bit × 24-band configuration keeps every true pair
    (per-band keep ≈ 0.33, miss-all-24 < 1e-4) while pruning ~91% of
    random pairs — the regime where banding genuinely bites, unlike the
    borderline 0.45 exemplar. The brute-force oracle over the augmented
    corpus makes hash equality the recall-1.0 law.

Deepening pairs (the NOTES r11 §5 seeds plus one curation staple):
  * ``txtable_resolve_ours`` — three-way merge RESOLUTION via the NEW
    ``TxTable.resolve_from_branch(prefer='main')``: conflicted keys keep
    main's state, the branch's non-conflicting updates/inserts/deletes
    land; the oracle restates the resolved end state as one CASE.
  * ``embedding_drift_batches`` — per-label centroid L2 shift across
    deterministic ingest batches (vec_id % 4): the encoder-drift alarm,
    one posexplode into one combiner-friendly aggregate.
  * ``semantic_dedup_cells`` — SemDeDup-shaped cluster-scoped near-dup
    with a keep-first policy: one Lloyd update from first-k seeds, pairs
    searched only within a cell (Σ n_c² not n²), run on the planted
    corpus so real duplicate groups exist.
  * ``unigram_logprob_buckets`` — CCNet-style perplexity bucketing:
    mean token log-prob under the corpus's own unigram LM, per-source
    head/middle/tail terciles ranked on the 4-dp-ROUNDED score with
    doc_id tie-break.
  * ``stream_cdc_evolve_replica`` — CDC replication THROUGH a
    mid-stream add-column schema evolution: the post-evolution drains
    carry the evolved schema (old files null-fill), and the replica
    evolves in lockstep via ``merge_upsert(evolve_schema=True)``.
  * ``stream_cdc_catchup`` — the replica misses three source commits
    and ONE drain telescopes them (catch-up cost O(net changes)).
  * ``hll_grid_serving`` — the serving-layer shape: ONE stored daily
    register family answers BOTH weekly distinct (rollup law) and
    week-over-week retention (set algebra) in one query, rows never
    rescanned.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.operators import similarity, sketch
from h2outility_spark.workload import _t, fround, query, sql_round
from h2outility_spark.workload_lakehouse import scratch_dir

# -- streaming CDC replica ---------------------------------------------------------------


def _cdc_replica_runner(spark, root: str, key_col: str, evolve_schema: bool = False):
    """Shared CDC-replica harness for the three streaming pairs: returns
    (src_table, replica_table, drain). The foreachBatch handler collapses
    each micro-batch with ``net_changes``, applies tombstones (delete
    rows anti-joined against insert keys) then upserts — the certified
    ``txtable_cdf_replica`` discipline — and commits through a
    :class:`BatchLedger` in ``root/applied``, so a replayed batch is
    skipped (a crash before the marker replays the batch; delete-of-deleted
    and merge-of-identical are no-ops on state, so even a half-applied
    replay converges). One definition so a fix to the apply discipline
    lands in every pair at once."""
    from h2outility_spark.sources.txtable_source import (
        TxTableCdcDataSource,
        net_changes,
    )
    from h2outility_spark.storage_tx import TxTable
    from h2outility_spark.streaming.incremental import BatchLedger, drain_available_now

    spark.dataSource.register(TxTableCdcDataSource)
    src_dir, ckpt = root + "/src", root + "/ckpt"
    src = TxTable(spark, src_dir, key_cols=[key_col])
    replica = TxTable(spark, root + "/replica", key_cols=[key_col])

    def apply_batch(batch_df, batch_id: int) -> str | None:
        if batch_df.isEmpty():
            # No-data micro-batch (a default-trigger heartbeat can plan
            # one): no state change, and NO marker either — the marker
            # count certifies the number of DATA batches applied, so it
            # must stay robust to spurious empty batches.
            return None
        # Materialize the net CDF ONCE per batch: delete_keys and
        # merge_upsert each action their input 2-3x (bounds collect,
        # anti-join, staged write), and without the persist every action
        # re-runs the whole batch pipeline — Python-source read +
        # net_changes aggregate — from scratch (measured ~6 re-executions
        # per drain, 2x the drain wall; OPTIMIZATION_r14.md #7). The CDF
        # is admission-bounded (O(batch), never O(table)), so the persist
        # is bounded memory by construction; same discipline as
        # stream_dedup_ingest's novel.cache().
        cdf = net_changes(batch_df).persist()
        try:
            inserts = cdf.filter(F.col("_change_type") == "insert").drop("_change_type")
            tombstones = (
                cdf.filter(F.col("_change_type") == "delete")
                .select(key_col)
                .join(inserts.select(key_col).distinct(), key_col, "left_anti")
                .distinct()
            )
            if replica.latest_version() is not None:
                replica.delete_keys(tombstones)
            replica.merge_upsert(inserts, evolve_schema=evolve_schema)
        finally:
            cdf.unpersist()
        return ""

    handle = BatchLedger(root + "/applied").handler(apply_batch)

    def drain() -> None:
        # Loaded per drain: the source schema can evolve between drains.
        stream = spark.readStream.format("txtable_cdc").option("path", src_dir).load()
        drain_available_now(stream, ckpt, handle)

    drain.handle = handle  # exposed for the empty-batch unit test
    return src, replica, drain


STREAM_CDC_ORACLE = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 2 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 222
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
FROM orders
WHERE o_orderkey % 100 < 4 AND o_orderkey % 7 <> 0
"""


@query(
    "stream_cdc_replica",
    oracle=STREAM_CDC_ORACLE,
    description="streaming CDC replica: append/merge/delete arrive as three txtable_cdc micro-batch ranges through one checkpoint",
)
def q_stream_cdc_replica(spark, sf_dir):
    """Streaming CDC replication: the source table runs all three verbs
    (append, merge +222 on even keys, delete of the %7 keys); after EACH
    commit an ``AvailableNow`` drain of the ``txtable_cdc`` source runs
    through ONE checkpoint, so the feed arrives as three incremental
    micro-batch ranges, merge/delete versions included — the ops the
    append-only tail source refuses by contract. ``net_changes``
    collapses each batch's signed rows to its net CDF (rewritten
    survivor rows cancel; an update nets to its delete+insert pair), and
    the handler applies tombstones (delete rows anti-joined against
    insert keys) then upserts — the same discipline as the batch
    ``txtable_cdf_replica`` — under a batch_id marker file written
    last, so a replayed batch is skipped instead of re-applied. The
    replica starts EMPTY: even the initial state arrives as version 0's
    insert rows. Final snapshot must equal the source's, restated by the
    oracle."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 4).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    src, replica, drain = _cdc_replica_runner(
        spark, scratch_dir("h2ou_scdc_"), "o_orderkey"
    )
    src.append(base)
    drain()  # batch 1: the bootstrap — v0's rows arrive as inserts
    upd = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "cents", F.col("cents") + F.lit(222)
    )
    src.merge_upsert(upd)
    drain()  # batch 2: the merge version — delete+insert pairs, net upsert
    src.delete_keys(base.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"))
    drain()  # batch 3: the delete version — tombstones only
    return replica.snapshot().select("o_orderkey", "o_custkey", "cents")


CDC_CATCHUP_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 555
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
FROM orders
WHERE o_orderkey % 100 >= 96 AND o_orderkey % 5 <> 0
"""


@query(
    "stream_cdc_catchup",
    oracle=CDC_CATCHUP_ORACLE,
    description="CDC replica catch-up: one drain telescopes three missed commits to the net delta (cost O(net changes))",
)
def q_stream_cdc_catchup(spark, sf_dir):
    """CDC replica CATCH-UP — the failure-recovery scenario: the replica
    bootstraps from the first drain, then MISSES three source commits
    (a second append, a merge, a delete) and reconnects with ONE drain
    covering the whole backlog version range. ``net_changes`` telescopes
    the range — a row appended in the missed window and updated later
    arrives once with its final value; appended-then-deleted rows never
    reach the replica at all — so catch-up cost is O(net changes),
    never O(missed versions × table). The final snapshot equals the
    source's, restated by the oracle; the sibling ``stream_cdc_replica``
    certifies the same pipeline arriving as three incremental batches,
    so together they pin that batch-boundary placement cannot change
    the replica."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    slice_ = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 >= 96)
    base = slice_.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("cents")
    )
    late = slice_.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", cents.alias("cents")
    )
    src, replica, drain = _cdc_replica_runner(
        spark, scratch_dir("h2ou_scdcc_"), "o_orderkey"
    )
    src.append(base)
    drain()  # replica bootstraps, then goes OFFLINE
    src.append(late)  # missed commit 1
    src.merge_upsert(  # missed commit 2: +555 on the %3 keys
        slice_.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", (cents + F.lit(555)).alias("cents")
        )
    )
    src.delete_keys(  # missed commit 3: the %5 keys vanish
        slice_.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    )
    drain()  # ONE catch-up drain telescopes the three missed versions
    return replica.snapshot().select("o_orderkey", "cents")


STREAM_CDC_EVOLVE_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 4 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 7
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents,
       CASE WHEN o_orderkey % 4 = 0 THEN 'hot' ELSE NULL END AS flag
FROM orders
WHERE o_orderkey % 100 < 3 AND o_orderkey % 11 <> 0
"""


@query(
    "stream_cdc_evolve_replica",
    oracle=STREAM_CDC_EVOLVE_ORACLE,
    description="CDC replica through a mid-stream add-column schema evolution; replica evolves in lockstep",
)
def q_stream_cdc_evolve_replica(spark, sf_dir):
    """CDC replication THROUGH a mid-stream schema evolution — the drift
    case every long-lived replica eventually meets: after the bootstrap
    drain the source merge adds a ``flag`` column (``evolve_schema``),
    so the next drain's feed carries the evolved schema, old files
    null-filling the new column exactly like snapshots do; the replica
    applies each batch with ``merge_upsert(evolve_schema=True)`` and
    evolves in lockstep. A delete drain follows on the evolved table.
    Final replica state — updated keys carrying the flag, untouched keys
    NULL, deleted keys gone — is restated by the oracle."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    base = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 3).select(
        "o_orderkey", cents.alias("cents")
    )
    src, replica, drain = _cdc_replica_runner(
        spark, scratch_dir("h2ou_scdce_"), "o_orderkey", evolve_schema=True
    )
    src.append(base)
    drain()  # bootstrap at the pre-evolution schema
    upd = (
        base.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn("cents", F.col("cents") + F.lit(7))
        .withColumn("flag", F.lit("hot"))
    )
    src.merge_upsert(upd, evolve_schema=True)
    drain()  # the feed now carries the evolved schema; old rows null-fill
    src.delete_keys(base.filter(F.col("o_orderkey") % 11 == 0).select("o_orderkey"))
    drain()
    return replica.snapshot().select("o_orderkey", "cents", "flag")


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
    description="three-way merge resolution: branch's non-conflicting net changes land, conflicts keep main (prefer='main')",
)
def q_txtable_resolve_ours(spark, sf_dir):
    """Three-way merge RESOLUTION (the step VERDICT r11 seeded after
    ``branch_conflicts``): main and a named branch BOTH advance after the
    fork — main bumps the %3 keys by +100 while the branch bumps the %2
    keys by +5000 and deletes the %5 keys — then
    ``resolve_from_branch(prefer='main')`` applies ONLY the branch's
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
    main.resolve_from_branch(br, since_self=fork_v, prefer="main", propagate_deletes=True)
    return main.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- Bloom prefilter inside a real join pipeline -----------------------------------------

_BPR_M, _BPR_K = 1024, 3


def _bpr_pos_oracle(item_sql: str, i: int) -> str:
    # shared definition: the md5-position formula lives once, in next8
    from h2outility_spark.workload_next8 import _bloom_pos_oracle

    return _bloom_pos_oracle(item_sql, i, m_bits=_BPR_M)


BLOOM_REVENUE_ORACLE = f"""
WITH keys AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0),
li AS (
  SELECT l_suppkey,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{", ".join(_bpr_pos_oracle("s_suppkey", i) for i in range(_BPR_K))}]) AS pos
    FROM keys
  )
),
cand AS (
  SELECT l_suppkey, cents FROM li
  WHERE {" AND ".join(f"({_bpr_pos_oracle('l_suppkey', i)}) IN (SELECT pos FROM bits)" for i in range(_BPR_K))}
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM li),
rev AS (
  SELECT l_suppkey AS s_suppkey,
         CAST(sum(cents) AS BIGINT) AS revenue_cents,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM li
  WHERE l_suppkey IN (SELECT s_suppkey FROM keys)
  GROUP BY 1
)
SELECT rev.s_suppkey, rev.revenue_cents, rev.n_rows, nc.n_cand, nt.n_total
FROM rev, nc, nt
"""


@query(
    "bloom_prefilter_revenue",
    oracle=BLOOM_REVENUE_ORACLE,
    description="Bloom prefilter inside a revenue join pipeline: broadcast bit-probe prunes lineitem before the exchange",
)
def q_bloom_prefilter_revenue(spark, sf_dir):
    """Per-supplier revenue for a target cohort (s_suppkey % 10 == 0),
    computed THROUGH the Bloom prefilter: the cohort's keys set k=3
    md5-derived bits of a 1024-bit relational filter, lineitem is probed
    by chained broadcast semi-joins (the chain pipelines inside one
    whole-stage-codegen pass over lineitem — no shuffle, no second
    scan), the exact broadcast semi-join against the cohort eliminates
    false positives, and only then does the aggregate pay its exchange —
    over the ~10% of rows that survived. The oracle computes revenue
    from the PLAIN exact join, so hash equality is the no-false-negative
    law applied to real money, per-row integer cents making the sums
    order-exact on both engines; n_cand/n_total (the filter is
    md5-derived, rebuilt bit-for-bit by the oracle) certify the
    reduction on the hash. The two 1-row count broadcasts are the
    allowlisted scalar-BNLJ shape."""
    supp = _t(spark, sf_dir, "supplier")
    keys = supp.filter(F.col("s_suppkey") % 10 == 0).select("s_suppkey")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("bigint")
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", cents.alias("cents"))

    bits = sketch.bloom_bits(keys, "s_suppkey", m_bits=_BPR_M, k=_BPR_K)
    cand = sketch.bloom_probe(li, "l_suppkey", bits, m_bits=_BPR_M, k=_BPR_K)
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_total = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    rev = (
        cand.join(
            F.broadcast(keys.withColumnRenamed("s_suppkey", "l_suppkey")),
            "l_suppkey",
            "semi",
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .withColumnRenamed("l_suppkey", "s_suppkey")
    )
    return rev.join(F.broadcast(n_cand)).join(F.broadcast(n_total)).select(
        "s_suppkey", "revenue_cents", "n_rows", "n_cand", "n_total"
    )


# -- per-source embedding drift across ingest batches ------------------------------------

EMB_DRIFT_ORACLE = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v, label, vec_id % 4 AS batch
  FROM embeddings
),
c AS (
  SELECT label, batch, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv
  FROM e CROSS JOIN range(64) r GROUP BY 1, 2, 3
),
d AS (
  SELECT a.label, a.batch, sum((a.cv - b.cv) * (a.cv - b.cv)) AS s2
  FROM c a JOIN c b ON a.label = b.label AND b.batch = a.batch - 1 AND a.pos = b.pos
  GROUP BY 1, 2
)
SELECT label, CAST(batch AS BIGINT) AS batch,
       floor(sqrt(s2) * 10000.0 + 0.5) / 10000.0 AS drift_l2
FROM d
"""


@query(
    "embedding_drift_batches",
    oracle=EMB_DRIFT_ORACLE,
    description="per-source embedding drift: L2 between consecutive ingest-batch centroids (one posexplode + hash agg)",
)
def q_embedding_drift_batches(spark, sf_dir):
    """Per-source embedding DRIFT monitoring (the NOTES r11 §5 seed): the
    alarm a production corpus pipeline watches on its encoder — has a
    source's embedding distribution moved between ingest batches? Batch =
    vec_id % 4 (the deterministic ingest-slice convention the incremental
    dedup pairs use), centroid = per-position mean per (label, batch) —
    ONE posexplode (×64) into ONE combiner-friendly hash aggregate, the
    same bounded-output shape as the sketch grids — and drift = L2
    between consecutive batch centroids, a join of two tiny centroid
    frames. Only the averages' accumulation order is engine-dependent
    (the r9 lesson), so the distance is rounded at 4 dp on both sides —
    the kmeans-oracle discipline."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 4).alias("batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    c = e.groupBy("label", "batch", "pos").agg(F.avg("x").alias("cv"))
    a, b = c.alias("a"), c.alias("b")
    d = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("b.batch") == F.col("a.batch") - 1)
            & (F.col("a.pos") == F.col("b.pos")),
        )
        .groupBy(F.col("a.label").alias("label"), F.col("a.batch").alias("batch"))
        .agg(F.sum(F.pow(F.col("a.cv") - F.col("b.cv"), 2)).alias("s2"))
    )
    return d.select(
        "label",
        F.col("batch").cast("bigint").alias("batch"),
        fround(F.sqrt("s2"), 4).alias("drift_l2"),
    )


# -- realistic-threshold embedding near-dup ----------------------------------------------

_STRICT_THRESHOLD = 0.85
_STRICT_SHIFT = 0.05  # per-coordinate perturbation, applied in DOUBLE space
_STRICT_BITS, _STRICT_BANDS = 8, 24

NEARDUP_STRICT_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + {_STRICT_SHIFT}) AS v
  FROM e WHERE vec_id % 20 = 0
),
u AS (SELECT * FROM e UNION ALL SELECT * FROM p)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor((list_inner_product(a.v, b.v)
              / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
             * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
      / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v))
      >= {_STRICT_THRESHOLD}
"""


@query(
    "neardup_embedding_strict",
    oracle=NEARDUP_STRICT_ORACLE,
    description="RP-LSH embedding near-dup at the production threshold (cos>=0.85, planted dups, recall-1.0 law)",
    bench=True,
)
def q_neardup_embedding_strict(spark, sf_dir):
    """Embedding near-dup at the threshold the RP-LSH design targets
    (cos ≥ 0.85, θ ≤ 32°): per-band keep for a true pair is ≈ 0.33 with
    8-bit bands, so 24 bands miss a true pair with probability < 1e-4,
    while a random pair survives banding only ~9% of the time — the
    pruning regime the borderline registered 0.45 exemplar
    (``neardup_embedding_lsh``) cannot show. The synthetic embeddings
    are near-orthogonal, so deterministic near-dups are PLANTED (+0.05
    per coordinate in double space for vec_id % 20 == 0; identical IEEE
    arithmetic on both engines) with cosines 0.91–0.95 against their
    sources. The oracle brute-forces the augmented corpus: hash equality
    proves recall 1.0 of the banded path at this threshold."""
    out = similarity.cosine_neardup_pairs_lsh(
        neardup_strict_corpus(spark, sf_dir),
        threshold=_STRICT_THRESHOLD,
        n_bits=_STRICT_BITS,
        n_bands=_STRICT_BANDS,
    )
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def neardup_strict_corpus(spark, sf_dir):
    """The augmented corpus (originals + planted near-dups) the strict
    pair runs on — shared by the registered-config query above and the
    bench's auto-sized scaling variant."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(_STRICT_SHIFT)
        ).alias("embedding"),
    )
    return emb.unionByName(planted)


def neardup_strict_auto(spark, sf_dir, n_rows: int):
    """Bench-only variant of the strict pair with OCCUPANCY-MATCHED band
    width (``n_bits=None`` → ``similarity.auto_n_bits``): the production
    resize discipline for the 100× scaling block — fixed-bit configs
    necessarily grow candidate sets as occupancy², which measures the
    configuration, not the operator. Band count stays at 24, so the
    true-pair miss probability stays < ~1e-3 per pair as bits grow."""
    return similarity.cosine_neardup_pairs_lsh(
        neardup_strict_corpus(spark, sf_dir),
        threshold=_STRICT_THRESHOLD,
        n_bits=None,
        n_bands=_STRICT_BANDS,
        n_rows=n_rows,
    ).select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


# -- semantic dedup: cluster-scoped near-dup with a keep-first policy --------------------

_SEM_K, _SEM_TAU = 8, 0.85

_SEM_CORPUS_CTE = f"""
eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + {_STRICT_SHIFT}) AS v
  FROM eb WHERE vec_id % 20 = 0
),
e AS (SELECT * FROM eb UNION ALL SELECT * FROM pl)
"""

SEMANTIC_DEDUP_ORACLE = f"""
WITH {_SEM_CORPUS_CTE},
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v AS cvec
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_SEM_K})
),
a1 AS (SELECT vec_id, v, cluster FROM (
  SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY
    list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn
  FROM e CROSS JOIN c0 c) WHERE rn = 1),
p1 AS (SELECT cluster, r.range AS pos,
              {sql_round("avg(v[CAST(r.range AS INT) + 1])", 12)} AS cv
       FROM a1 CROSS JOIN range(64) r GROUP BY 1, 2),
g1 AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM p1 GROUP BY cluster),
c1 AS (SELECT c.cluster, coalesce(g.cvec, c.cvec) AS cvec
       FROM c0 c LEFT JOIN g1 g USING (cluster)),
a2 AS (SELECT vec_id, v, cluster FROM (
  SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY
    list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn
  FROM e CROSS JOIN c1 c) WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.v, b.v)
        / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v))
        >= {_SEM_TAU}
)
SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cell,
       a2.vec_id NOT IN (SELECT vec_id FROM dup) AS is_canonical
FROM a2
"""


@query(
    "semantic_dedup_cells",
    oracle=SEMANTIC_DEDUP_ORACLE,
    description="SemDeDup-shaped semantic dedup: within-cell near-dup scoping (sum n_c^2, not n^2), keep-smallest-id",
)
def q_semantic_dedup_cells(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): cluster the
    corpus (one Lloyd update from first-k seeds — the certified
    ``kmeans_centroids`` machinery), then search near-dups ONLY within a
    cell and keep the smallest id per duplicate group (a doc is
    canonical iff no smaller-id same-cell neighbor at cos ≥ 0.85). The
    within-cell scoping is the scale story: candidate pairs cost
    Σ_cells n_c² instead of n² — at 100 TB the cells come from a stored
    IVF model and each cell's pair scan is an independent task. Run on
    the planted-near-dup corpus so real duplicate groups exist; the
    planted +0.05 shift keeps a copy in its source's cell here, and a
    copy that DID cross a cell boundary would be missed by BOTH engines
    identically (the known SemDeDup recall trade, deterministic under
    the shared model). Every row rides the hash with its cell and
    verdict."""
    from h2outility_spark.operators import kmeans as km
    from h2outility_spark.operators.similarity import dot

    corpus = neardup_strict_corpus(spark, sf_dir)
    seeds = (
        corpus.orderBy("vec_id")
        .limit(_SEM_K)
        .select(F.col("embedding").alias("v"))
        .collect()
    )
    centroids = [(i, list(r["v"])) for i, r in enumerate(seeds)]
    # one Lloyd update (assign under seeds, re-average), then final assign
    assigned = km._assign(corpus, centroids, "vec_id", "embedding")
    new_rows = (
        assigned.select("cluster", F.posexplode("__v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        # 12-dp round on BOTH engines before the final assignment: Spark's
        # partition-order avg and DuckDB's sequential avg can differ in the
        # last ulp, and a near-equidistant vector would then land in
        # different cells across engines (the r9 embedding_drift lesson).
        .agg(fround(F.avg("x"), 12).alias("cv"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select("cluster", F.expr("transform(pairs, p -> p.cv)").alias("cvec"))
        .collect()
    )
    updated = {r["cluster"]: list(r["cvec"]) for r in new_rows}
    centroids = [(cid, updated.get(cid, cvec)) for cid, cvec in centroids]
    cells = km._assign(corpus, centroids, "vec_id", "embedding").select(
        "vec_id", "cluster", "__v"
    )

    # self-dots precomputed per SIDE (n folds), not per PAIR (Σ n_c²):
    # dot(a,b)/sqrt(na*nb) multiplies the same doubles in the same order
    # as the inline form, so values — and the oracle hash — are unchanged
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("ca"),
        F.col("__v").alias("va"),
        dot(F.col("__v"), F.col("__v")).alias("na"),
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cb"),
        F.col("__v").alias("vb"),
        dot(F.col("__v"), F.col("__v")).alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb"))
    dup = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
        .filter(sim >= F.lit(_SEM_TAU))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return cells.join(dup.withColumn("__dup", F.lit(True)), "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("int").alias("cell"),
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("is_canonical"),
    )


# -- HLL grid SERVING: one stored daily grid family, two question classes ----------------

def _hll_serving_oracle() -> str:
    from h2outility_spark.workload_next8 import _HLL_RHO_ORACLE, _hll_est_sql
    from h2outility_spark.workload import sql_round

    return f"""
WITH e AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT week,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
         regexp_replace(substr(md5(CAST(user_id AS VARCHAR)), 3, 8), '^0+', '') AS stripped
  FROM e
),
wk AS (
  SELECT week, bucket, max({_HLL_RHO_ORACLE}) AS reg
  FROM h GROUP BY 1, 2
),
pairs AS (
  SELECT a.week AS week, b.week AS week_next
  FROM (SELECT DISTINCT week FROM wk) a
  JOIN (SELECT DISTINCT week FROM wk) b ON b.week = a.week + 7
),
uni AS (
  SELECT p.week, r.bucket, max(r.reg) AS reg
  FROM pairs p JOIN wk r ON r.week = p.week OR r.week = p.week_next
  GROUP BY 1, 2
),
est_w AS ({_hll_est_sql("wk", "week")}),
est_u AS ({_hll_est_sql("uni", "week")})
SELECT p.week, p.week_next,
       {sql_round("ea.e", 4)} AS est_distinct,
       {sql_round("eb.e", 4)} AS est_next_distinct,
       {sql_round("ea.e + eb.e - eu.e", 4)} AS est_retained
FROM pairs p
JOIN est_w ea ON ea.week = p.week
JOIN est_w eb ON eb.week = p.week_next
JOIN est_u eu ON eu.week = p.week
"""


@query(
    "hll_grid_serving",
    oracle=_hll_serving_oracle(),
    description="HLL serving layer: one stored daily register family answers weekly distinct AND retention, rows never rescanned",
)
def q_hll_grid_serving(spark, sf_dir):
    """The HLL SERVING-LAYER shape the two sibling certificates build
    toward: ONE stored grid family — per-(week, day) registers, the form
    a production pipeline persists — serves BOTH question classes in one
    query with zero row rescans: weekly distinct counts (daily grids
    max-merged to weekly, the rollup law) AND week-over-week retention
    (inclusion-exclusion over the max-merged union of adjacent weekly
    grids, the set-algebra law). The oracle rebuilds weekly registers
    directly from rows, so the hash simultaneously re-certifies the
    merge law (daily→weekly == direct) and the serving arithmetic. At
    100 TB this is the whole point of the register representation: the
    grids are a few KB per grain, the rows are never touched again."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "user_id",
        )
    )
    daily = sketch.hll_registers(ev, "user_id", "week", "day")  # the STORED family
    wk = sketch.hll_merge(daily, "week")
    weeks = wk.select("week").distinct()
    pairs = (
        weeks.alias("a")
        .join(weeks.alias("b"), F.col("b.week") == F.date_add(F.col("a.week"), 7))
        .select(F.col("a.week").alias("week"), F.col("b.week").alias("week_next"))
    )
    ra = wk.join(F.broadcast(pairs.select("week")), "week")
    rb = (
        wk.withColumnRenamed("week", "week_next")
        .join(F.broadcast(pairs), "week_next")
        .select("week", "bucket", "reg")
    )
    uni = sketch.hll_merge(ra.unionByName(rb), "week")
    est_w = sketch.hll_estimate(wk, "week")
    est_u = sketch.hll_estimate(uni, "week").withColumnRenamed("est_distinct", "e_u")
    ea = F.col("e_a")
    eb = F.col("e_b")
    return (
        pairs.join(est_w.withColumnRenamed("est_distinct", "e_a"), "week")
        .join(
            est_w.withColumnRenamed("est_distinct", "e_b").withColumnRenamed(
                "week", "week_next"
            ),
            "week_next",
        )
        .join(est_u, "week")
        .select(
            "week",
            "week_next",
            fround(ea, 4).alias("est_distinct"),
            fround(eb, 4).alias("est_next_distinct"),
            fround(ea + eb - F.col("e_u"), 4).alias("est_retained"),
        )
    )


# -- unigram-LM quality scoring with per-source buckets (the CCNet shape) ----------------

_ULM_BUCKETS = 3

UNIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT d.doc_id, d.source,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w
  FROM documents d
  WHERE length(trim(text)) > 0
),
cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tot FROM cnt),
per AS (
  SELECT t.doc_id, t.source, count(*) AS n_tokens,
         floor(avg(ln(CAST(c.c AS DOUBLE) / tot.n_tot)) * 10000.0 + 0.5) / 10000.0 AS logprob
  FROM toks t JOIN cnt c USING (w) CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, logprob,
       CAST(ntile({b}) OVER (PARTITION BY source ORDER BY logprob DESC, doc_id) AS INT) AS bucket
FROM per
""".format(b=_ULM_BUCKETS)


@query(
    "unigram_logprob_buckets",
    oracle=UNIGRAM_LM_ORACLE,
    description="CCNet-style quality bucketing: per-doc mean unigram log-prob, per-source terciles on the rounded score",
)
def q_unigram_logprob_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020) — the
    standard curation move this engine lacked: score every document by
    its mean token log-probability under the corpus's own unigram LM,
    then split each source into head/middle/tail terciles (real CCNet
    scores against a Wikipedia KenLM; the unigram self-model keeps the
    pair hermetic while exercising the identical plan shape). Flow: one
    token explode -> vocabulary count table (hash join, combiner-
    friendly) -> per-doc mean ln p -> per-source ntile. The ln() values
    differ across engines in the last ulp, so the score is ROUNDED at 4
    dp BEFORE ranking and doc_id breaks ties — near-ties become exact
    ties with a deterministic order (the tfidf top-k lesson). The 1-row
    total-token broadcast is the allowlisted scalar-BNLJ shape."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("n_tot"))
    per = (
        toks.join(cnt, "w")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            fround(F.avg(F.log(F.col("c").cast("double") / F.col("n_tot"))), 4).alias(
                "logprob"
            ),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("logprob").desc(), "doc_id")
    return per.select(
        "doc_id",
        "source",
        "n_tokens",
        "logprob",
        F.ntile(_ULM_BUCKETS).over(w).cast("int").alias("bucket"),
    )
