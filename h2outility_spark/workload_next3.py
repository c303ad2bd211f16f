"""Round-8 registry additions: concurrent TxTable writers, stateful
streaming windows and sessions, forward as-of joins, adaptive IVF-PQ and
TxTable pruning/history.

Coverage targets (VERDICT r6 "stage the round-8 window now"):
  * ``txtable_concurrent_appends`` — the commit-retry path
    (``storage_tx.py`` CommitConflict + re-read-parent retry) has race
    regression tests but no driver row; here three genuinely concurrent
    writers MUST serialize through the conflict loop and the oracle
    states the lossless union.
  * ``txtable_concurrent_merge`` — a merge racing an append, resolved
    through merge_upsert's documented conflict contract (surface
    CommitConflict; the caller re-merges on the moved snapshot).
  * ``stream_watermark_windows`` — event-time windowed aggregation with a
    watermark under ``Trigger.AvailableNow``: the streaming twin of
    ``event_time_windows``, certifying watermark advance + append-mode
    window flush across checkpointed restarts.
  * ``stream_session_windows`` — STATEFUL sessionization via
    ``F.session_window``: open sessions must merge across micro-batch
    boundaries in the state store before the watermark flushes them.
  * ``stream_session_paths`` — CUSTOM stateful operator via
    ``applyInPandasWithState`` (ordered per-session event paths, which
    ``session_window`` cannot express), with eager below-watermark
    emission and an event-time-timeout flush.
  * ``asof_join_forward`` — the NEW forward as-of operator (next event
    at-or-after, with tolerance and tiebreak), mirroring the certified
    backward variant.
  * ``dedup_keep_best`` — near-dup clusters collapsed to their
    best-quality representative (the real pipeline's dedup policy: keep
    the longest doc, not the smallest id).
  * ``txtable_prune_scan`` — the manifest min/max file-pruned range scan
    (``TxTable.scan``), data-identity-checked against the plain filter
    (the pruning economics are pinned by a pytest file-count assertion).
  * ``ivfpq_search_adaptive`` — the compound ANN path at its cheapest
    configuration: adaptive ratio-spill IVF cells + production PQ
    codebooks + ADC + exact re-rank, spliced from certified oracle
    fragments. It is on ``test_plan_audit``'s BNLJ_ALLOWED: its three
    BroadcastNestedLoopJoins are the canonical tiny-broadcast centroid
    probes (same as ivf_search / ivfpq_search / pq_search).
  * ``txtable_history_rows`` — commit-log certification: a known five-op
    sequence's version numbering, op labels, and every historical
    snapshot's row count on one driver hash.
  * ``minhash_containment_pairs`` — DIRECTED n-gram containment over the
    banded candidates (operators/dedup.containment_for_pairs): the
    asymmetric near-dup measure that catches sub-document duplication
    symmetric Jaccard dilutes away.
  * ``stream_static_enrich`` — stream-static broadcast join (the
    canonical enrichment topology), re-binding the static dim across
    checkpointed AvailableNow restarts.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from h2outility_spark.operators import asof, dedup
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.storage_tx import TxTable
from h2outility_spark.streaming.incremental import drain_available_now
from h2outility_spark.workload import _t, query
from h2outility_spark.workload_lakehouse import scratch_dir
from h2outility_spark.workload_text import (
    CLUSTERS_CTE,
    JPAIRS_CTE,
    MH_CAND_CTE,
    MH_CTE,
    MINHASH_K,
    _docs,
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
    hands each version to exactly one writer, and the losers retry from
    the NEW parent (storage_tx.py::append). The oracle states the
    lossless union — a lost update (a retry that re-read a stale parent,
    or a winner whose files the loser dropped) flips the hash.
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
            TxTable(spark, tdir, key_cols=["o_orderkey"]).append(
                slice_mod(lo, hi), _retries=20
            )
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


# -- streaming: watermarked event-time windows under AvailableNow -------------

STREAM_WATERMARK_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS cnt
FROM events GROUP BY 1, 2
"""

#: Event-time split point for the two micro-batch files: every batch-2
#: event is strictly newer than batch 1's max, so nothing is late beyond
#: the 1-hour watermark and the streaming counts must equal the batch
#: GROUP BY exactly.
_STREAM_CUT = "2024-01-03 00:00:00"
_FLUSH_TS = "2030-01-01 00:00:00"


@query(
    "stream_watermark_windows",
    oracle=STREAM_WATERMARK_ORACLE,
    description="Watermarked event-time windowed agg under AvailableNow, append-mode flush across checkpointed restarts",
)
def q_stream_watermark_windows(spark, sf_dir):
    """Streaming twin of ``event_time_windows``: hourly event counts per
    type computed by a WATERMARKED window aggregation drained with
    ``Trigger.AvailableNow`` — two real micro-batch files exercise state
    carried across checkpointed restarts, and a far-future flush event
    advances the watermark past every real window so append mode emits
    them all (the production "close the books" pattern). The flush
    window itself is filtered back out. Scale shape: the state store
    keys on (window, type) — O(open windows), never O(events).
    """
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
    src = scratch_dir("h2ou_swm_src_")
    out = scratch_dir("h2ou_swm_out_") + "/out"
    ckpt = scratch_dir("h2ou_swm_ckpt_") + "/ckpt"
    cut = F.lit(_STREAM_CUT).cast("timestamp")
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("event_type", StringType())]
    )

    agg = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("hour_start"), "event_type", "cnt")
    )

    # coalesce(1): one file per drain -> one micro-batch per drain
    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    spark.createDataFrame([(_FLUSH_TS, "__flush__")], "ts string, event_type string").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    ).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)

    return (
        read_parquet(spark, out)
        .filter(F.col("event_type") != "__flush__")
        .select("hour_start", "event_type", "cnt")
    )


# -- streaming: stateful session windows under AvailableNow -------------------

STREAM_SESSION_ORACLE = """
WITH t AS (
  SELECT user_id, ts, epoch_us(ts) AS tu,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS ptu
  FROM events
),
s AS (
  SELECT *, sum(CASE WHEN ptu IS NULL OR tu - ptu >= 21600000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


@query(
    "stream_session_windows",
    oracle=STREAM_SESSION_ORACLE,
    description="Stateful F.session_window sessionization: open sessions merge across micro-batches in the state store",
)
def q_stream_session_windows(spark, sf_dir):
    """STATEFUL streaming sessionization: ``F.session_window`` (6-hour
    inactivity gap) under ``Trigger.AvailableNow`` — the one stateful
    shape the other streaming queries don't cover, because sessions MERGE
    ACROSS MICRO-BATCHES in the state store (an open session from batch 1
    must absorb batch-2 events within the gap). Two event-time-split
    batches exercise exactly that; a far-future sentinel advances the
    watermark so append mode flushes every real session.

    Semantics note mirrored in the oracle: session windows merge on
    OVERLAP ([t, t+gap) intervals), so a gap of exactly 6 h starts a NEW
    session — the lag-cumsum oracle breaks on ``>=`` (the batch
    ``sessionization`` query's ``>`` convention would disagree on
    exact-gap pairs). State is O(open sessions), never O(events).
    """
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    ev = _t(spark, sf_dir, "events").select("ts", "user_id")
    src = scratch_dir("h2ou_ssw_src_")
    out = scratch_dir("h2ou_ssw_out_") + "/out"
    ckpt = scratch_dir("h2ou_ssw_ckpt_") + "/ckpt"
    cut = F.lit(_STREAM_CUT).cast("timestamp")
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("user_id", LongType())]
    )

    agg = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "6 hours").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )

    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    spark.createDataFrame([(_FLUSH_TS, -1)], "ts string, user_id long").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    ).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)

    return (
        read_parquet(spark, out)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "n_events")
    )


# -- streaming: custom stateful operator (applyInPandasWithState) -------------

STREAM_SESSION_PATHS_ORACLE = """
WITH t AS (
  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS tu,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ptu
  FROM events
),
s AS (
  SELECT *, sum(CASE WHEN ptu IS NULL OR tu - ptu > 21600000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sid
  FROM t
)
SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
FROM s GROUP BY user_id, sid
"""


@query(
    "stream_session_paths",
    oracle=STREAM_SESSION_PATHS_ORACLE,
    description="CUSTOM stateful operator (applyInPandasWithState): ordered per-session event-type paths with eager emission + event-time-timeout flush",
)
def q_stream_session_paths(spark, sf_dir):
    """CUSTOM stateful streaming via ``applyInPandasWithState``
    (streaming/incremental.stream_session_paths): sessionization that
    emits each session's ORDERED event-type path — semantics
    ``session_window`` cannot express. Two event-time-split batches force
    open sessions to extend across micro-batch state; settled sessions
    emit EAGERLY (below-watermark), the event-time timeout flushes the
    rest after the sentinel advances the watermark. The oracle restates
    the whole computation as batch lag-cumsum + ordered string_agg.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from h2outility_spark.streaming.incremental import stream_session_paths

    ev = _t(spark, sf_dir, "events").select("ts", "user_id", "event_type", "event_id")
    src = scratch_dir("h2ou_ssp_src_")
    out = scratch_dir("h2ou_ssp_out_") + "/out"
    ckpt = scratch_dir("h2ou_ssp_ckpt_") + "/ckpt"
    cut = F.lit(_STREAM_CUT).cast("timestamp")
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("event_id", LongType()),
        ]
    )

    paths = stream_session_paths(spark.readStream.schema(schema).format("parquet").load(src))

    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(paths, ckpt, out)
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(paths, ckpt, out)
    spark.createDataFrame(
        [(_FLUSH_TS, -1, "__flush__", -1)],
        "ts string, user_id long, event_type string, event_id long",
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "event_id"
    ).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(paths, ckpt, out)

    return (
        read_parquet(spark, out)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "n_events", "path")
    )


# -- forward as-of join --------------------------------------------------------

ASOF_FORWARD_ORACLE = """
WITH purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
     j AS (
       SELECT p.event_id, c.ts AS cts, c.value,
              row_number() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ts, c.value DESC) AS rk
       FROM purch p JOIN clicks c
         ON c.user_id = p.user_id AND c.ts >= p.ts
        AND epoch_us(c.ts) - epoch_us(p.ts) <= 7200000000
     )
SELECT p.event_id, p.user_id, p.ts,
       s.cts AS asof_ts, CAST(s.value AS DOUBLE) AS asof_value
FROM purch p LEFT JOIN (SELECT * FROM j WHERE rk = 1) s USING (event_id)
"""


@query(
    "asof_join_forward",
    oracle=ASOF_FORWARD_ORACLE,
    description="Forward as-of join (oldest right row at-or-after, tolerance + tiebreak), union-sort-carry in one shuffle",
)
def q_asof_join_forward(spark, sf_dir):
    """Forward as-of: each purchase aligned to the user's EARLIEST click
    at-or-after it, within a 2-hour tolerance — the mirror of the
    certified backward ``asof_join`` (same one-shuffle union-sort-carry,
    operators/asof.py::asof_join_forward), with ``value`` as the
    duplicate-timestamp tiebreak so both engines pick the same click.
    """
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof.asof_join_forward(
        purch, clicks, keys=["user_id"], payload_cols=["value"],
        tolerance_seconds=7200, tiebreak="value",
    )
    return out.select("event_id", "user_id", "ts", "asof_ts", F.col("value").alias("asof_value"))


# -- near-dup dedup that keeps the BEST representative -------------------------

DEDUP_KEEP_BEST_ORACLE = (
    "WITH RECURSIVE "
    + MH_CTE
    + MH_CAND_CTE
    + JPAIRS_CTE
    + CLUSTERS_CTE
    + """,
    alld AS (SELECT doc_id, n_chars FROM documents),
    memb AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      FROM alld d LEFT JOIN clusters c ON c.node = d.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rk
      FROM memb
    )
    SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rk = 1
    """
)


@query(
    "dedup_keep_best",
    oracle=DEDUP_KEEP_BEST_ORACLE,
    description="Near-dup clusters collapsed to the best-quality (longest) representative — the production dedup policy",
)
def q_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup with a QUALITY policy: MinHash-LSH pairs verified by
    Jaccard >= 0.2, collapsed to clusters, then ONE representative kept
    per cluster — the LONGEST document (n_chars), ties to the smallest
    id. This is the policy real pipelines want (keep-first throws away
    the best copy whenever the best copy isn't the oldest). Docs outside
    any cluster are their own representative. Scale shape: pairs come
    from banded buckets, the window is per-cluster — no O(n^2) stage.
    """
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH_K).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)])
    verified = dedup.jaccard_for_pairs(pairs, docs).filter(F.col("jaccard") >= 0.2)
    cc = dedup.connected_components(verified.select("id_a", "id_b"))
    memb = (
        docs.select("doc_id", "n_chars")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        memb.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1).drop("rk")
    )


# -- adaptive IVF + PQ compound (IVFADC with ratio-spill cells) ----------------

def _ivfpq_adaptive_oracle() -> str:
    """Splice three certified oracle fragments into the compound chain:
    the adaptive-spill IVF head (workload_next2.IVF_ADAPTIVE_ORACLE up
    through ``qcell`` — label centroids, ratio-1.05 spill assignment,
    spilled-cell centroids, top-2 probe), the production PQ chain
    (workload_ext._pq_kmeans_oracle — per-subspace k-means codebooks +
    encode), and an ADC-score + exact-re-rank tail. Every fragment is
    already driver-certified on its own; the splice only renames nothing
    (the CTE namespaces are disjoint by construction)."""
    from h2outility_spark.workload_ext import _pq_kmeans_oracle
    from h2outility_spark.workload_next2 import IVF_ADAPTIVE_ORACLE

    head = IVF_ADAPTIVE_ORACLE.split("\ns AS (")[0].rstrip()  # ends with "),"
    pq = _pq_kmeans_oracle(tail="@@TAIL@@").split("@@TAIL@@")[0].strip()
    assert pq.startswith("WITH ")
    pq_ctes = pq[len("WITH "):].rstrip().rstrip(",")
    tail = """
cand AS (
  SELECT DISTINCT qc.query_id, a.vec_id AS cand_id
  FROM qcell qc JOIN assign a ON a.cell = qc.cell
  WHERE a.vec_id <> qc.query_id
),
recon AS (
  SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
  FROM enc JOIN cbr cb2 ON cb2.s = enc.s AND cb2.code = enc.code
  GROUP BY enc.vec_id
),
adc AS (
  SELECT c.query_id, c.cand_id,
         list_inner_product(q.qv, r.rvec)
           / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
  FROM cand c JOIN q ON q.query_id = c.query_id JOIN recon r ON r.vec_id = c.cand_id
),
short AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
    FROM adc) WHERE rn <= 30
),
ex AS (
  SELECT s.query_id, s.cand_id,
         list_inner_product(q.qv, v2.vv)
           / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(v2.vv, v2.vv)) AS cos_raw
  FROM short s JOIN q ON q.query_id = s.query_id JOIN v v2 ON v2.vec_id = s.cand_id
)
SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
WHERE rk <= 3
"""
    return head + "\n" + pq_ctes + ",\n" + tail


IVFPQ_ADAPTIVE_ORACLE = _ivfpq_adaptive_oracle()


@query(
    "ivfpq_search_adaptive",
    oracle=IVFPQ_ADAPTIVE_ORACLE,
    description="Compound ANN at minimum probe budget: adaptive ratio-spill IVF cells + PQ ADC + exact re-rank",
)
def q_ivfpq_search_adaptive(spark, sf_dir):
    """The compound ANN path at its cheapest configuration: ADAPTIVE
    ratio-spill IVF cells prune WHICH vectors are scanned (m=3, ratio
    1.05, probe 2 — the low-row-budget assignment the committed recall
    sweep measured), PQ codes compress WHAT the scan reads (8x8 k-means
    codebooks, the production recipe), ADC scores the probed candidates
    against reconstructions, and an exact re-rank of the top 30 repairs
    quantization ranking error. Composed explicitly from the certified
    primitives so the oracle mirrors it CTE for CTE. Scale shape: cells
    prune partitions, codes cut scan bytes 32x, both quantizer tables
    broadcast; the cross joins (vectors/queries x packed centroid or
    codebook tables, every broadcast side <= 128 rows) are the canonical
    IVF probe shape already allowlisted for ivf_search/ivfpq_search.
    """
    from pyspark.sql import Window as PW

    from h2outility_spark.operators import similarity as sim
    from h2outility_spark.workload import fround

    emb = _t(spark, sf_dir, "embeddings")
    cents0 = sim.centroids_by_label(emb).withColumn(
        "centroid_val", fround(F.col("centroid_val"), 6)
    )
    assign = sim.ivf_assign_multi(emb, cents0, m=3, ratio=1.05).withColumnRenamed(
        "cell", "spill_cell"
    )
    emb_sp = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", F.col("spill_cell").alias("label")
    )
    cents1 = sim.pack_centroids(sim.centroids_by_label(emb_sp))

    cbs = sim.pq_codebooks_kmeans(emb, m=8, dim=64, k=8, max_iter=2, round_dp=6)
    codes = sim.pq_encode(emb, cbs)
    recon = sim.pq_reconstruct(codes, cbs)

    # per-side self-dots (same multiply order as sim.cosine, bit-identical
    # scores): probe, ADC and re-rank each fold once per pair, not thrice
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), sim.as_double(F.col("embedding")).alias("qv")
    ).withColumn("__nq", sim.dot(F.col("qv"), F.col("qv")))
    scored_cells = q.join(
        F.broadcast(cents1.withColumn("__ncell", sim.dot(F.col("cvec"), F.col("cvec"))))
    ).select(
        "query_id",
        "qv",
        "cell",
        (sim.dot(F.col("qv"), F.col("cvec")) / F.sqrt(F.col("__nq") * F.col("__ncell"))).alias("cell_sim"),
    )
    wc = PW.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell"))
    best = (
        scored_cells.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= 2)
        .select("query_id", "cell")
    )
    cand = (
        assign.select(F.col("vec_id").alias("cand_id"), F.col("spill_cell").alias("cell"))
        .join(F.broadcast(best), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    recon_n = recon.withColumn("__nr", sim.dot(F.col("rvec"), F.col("rvec")))
    adc = (
        cand.join(q, "query_id")
        .join(recon_n, cand["cand_id"] == recon_n["vec_id"])
        .select(
            "query_id",
            "cand_id",
            (sim.dot(F.col("qv"), F.col("rvec")) / F.sqrt(F.col("__nq") * F.col("__nr"))).alias("asim"),
        )
    )
    ws = PW.partitionBy("query_id").orderBy(F.col("asim").desc(), F.col("cand_id"))
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 30)
        .select("query_id", "cand_id")
    )
    ex = (
        short.join(q, "query_id")
        .join(
            emb.select(
                F.col("vec_id").alias("cand_id"), sim.as_double(F.col("embedding")).alias("cv2")
            ).withColumn("__ncv", sim.dot(F.col("cv2"), F.col("cv2"))),
            "cand_id",
        )
        .select(
            "query_id",
            "cand_id",
            (sim.dot(F.col("qv"), F.col("cv2")) / F.sqrt(F.col("__nq") * F.col("__ncv"))).alias("cos_raw"),
        )
    )
    wr = PW.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("cand_id"))
    return (
        ex.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select("query_id", "cand_id", fround(F.col("cos_raw"), 4).alias("cos_sim"))
    )


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
    """A MERGE racing an APPEND on the same table: merge_upsert documents
    that a commit conflict SURFACES to the caller (re-merging against a
    moved snapshot silently would be a lost-update hazard), so the merge
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
            TxTable(spark, tdir, key_cols=["o_orderkey"]).append(slice_mod(4, 6), _retries=20)
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


# -- asymmetric containment near-dup ------------------------------------------

CONTAINMENT_ORACLE = (
    "WITH "
    + MH_CTE
    + MH_CAND_CTE
    + """
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN dsh s1 ON s1.doc_id = c.id_a
      JOIN dsh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    ),
    cont AS (
      SELECT i.id_a, i.id_b,
             CAST(ni AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cab,
             CAST(ni AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cba
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT id_a, id_b,
           floor(cab * 10000.0 + 0.5) / 10000.0 AS cont_ab,
           floor(cba * 10000.0 + 0.5) / 10000.0 AS cont_ba
    FROM cont WHERE greatest(cab, cba) >= 0.5
    """
)


@query(
    "minhash_containment_pairs",
    oracle=CONTAINMENT_ORACLE,
    description="Directed n-gram containment over banded candidates — catches sub-document duplication symmetric Jaccard dilutes",
)
def q_minhash_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup: DIRECTED n-gram containment (|A∩B|/|A| and
    |A∩B|/|B|) for the banded MinHash candidate pairs, keeping pairs
    where either direction >= 0.5 — the measure that catches a short doc
    pasted into a long one, which symmetric Jaccard misses (the union
    dilutes it). Same banded-candidates-then-exact-verify cost shape as
    the certified Jaccard path (operators/dedup.containment_for_pairs).
    """
    from h2outility_spark.workload import fround

    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH_K).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)])
    cont = dedup.containment_for_pairs(pairs, docs)
    return cont.filter(
        F.greatest(F.col("cont_ab"), F.col("cont_ba")) >= 0.5
    ).select(
        "id_a",
        "id_b",
        fround(F.col("cont_ab"), 4).alias("cont_ab"),
        fround(F.col("cont_ba"), 4).alias("cont_ba"),
    )


# -- stream-static enrichment join --------------------------------------------

STREAM_STATIC_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
       o.o_totalprice
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey % 100 < 4
"""


@query(
    "stream_static_enrich",
    oracle=STREAM_STATIC_ORACLE,
    description="Stream-static broadcast enrichment join, static dim re-bound across checkpointed AvailableNow restarts",
)
def q_stream_static_enrich(spark, sf_dir):
    """Stream-static join — the remaining streaming join surface: each
    micro-batch of streamed orders joins the STATIC customer dimension
    (re-planned per batch, broadcast by size), append mode passes the
    enriched rows straight through (no state, no watermark needed). Two
    drains over two batch files prove the static side re-binds across
    checkpointed restarts. At scale this is the canonical enrichment
    topology: the fact stream never shuffles, the dim broadcasts.
    """
    from h2outility_spark.sources.parquet import load_table
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("c_nationkey")
    )
    src = scratch_dir("h2ou_sse_src_")
    out = scratch_dir("h2ou_sse_out_") + "/out"
    ckpt = scratch_dir("h2ou_sse_ckpt_") + "/ckpt"
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    enriched = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_nationkey", "o_totalprice")
    )

    slice_mod(0, 2).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(enriched, ckpt, out)
    slice_mod(2, 4).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(enriched, ckpt, out)
    return read_parquet(spark, out)
