"""Structured Streaming family: each query runs a real streaming pipeline
to COMPLETION inside the query fn (``Trigger.AvailableNow`` — the
cron-equivalent "drain what's there and stop", reference analog
``src/SilentUpdater.py:10-21``) and returns the materialized result frame,
so the DuckDB hash certifies the streaming semantics end to end:
watermarked windows and sessions, custom stateful operators, stream-static
joins, foreachBatch sinks into TxTables and their CDC replicas, per-batch
sketch merges, late-data routing, and restarts through one checkpoint.

Scale notes: every pipeline is the 100 TB shape already — per-micro-batch
work is O(batch), commits are copy-on-write merges of the batch, and the
TxTable sources plan one partition per ADDED file from a manifest diff.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators.text import WS_CLASS as _WS, token_count
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.storage_tx import TxTable
from h2outility_spark.streaming.incremental import BatchLedger, drain_available_now
from h2outility_spark.workload import _t, query, scratch_dir, sql_round
from h2outility_spark.workload_sinks import _JSON_TS_FMT
from h2outility_spark.workload_sketch_graph import HEAVY_HITTERS_ORACLE, _CMS_D, _CMS_W
from h2outility_spark.workload_text import (
    CHUNK_SLIDING_ORACLE,
    JPAIRS_CTE,
    MINHASH_K,
    STRATIFIED_SPLIT_ORACLE,
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    _N_TOKENS_SQL,
    mh_cte,
)
from h2outility_spark.workload_txtable import TXTABLE_MINMAX_ORACLE


#: Final corpus after: batch1 = doc_id%5!=0 (seed), batch2 = doc_id%5==0
#: (deduped against the seed), batch3 = replay of batch2 (must commit
#: nothing). Mirrors streaming/incremental.stream_dedup_ingest op for op:
#:   * per-batch exact dedup -> min-id representative per fingerprint;
#:   * batch2 exact pass -> fingerprint anti-join vs the corpus snapshot;
#:   * batch2 near pass -> per-hash minhash collision (8 bands of 1)
#:     against the snapshot, verified by trigram Jaccard >= 0.2.
STREAM_DEDUP_ORACLE = (
    f"""
WITH fpd AS (
  SELECT doc_id, text,
         md5(lower(trim(regexp_replace(text, '{_WS}+', ' ', 'g')))) AS fp
  FROM documents WHERE text IS NOT NULL
),
crep AS (SELECT fp, min(doc_id) AS doc_id FROM fpd WHERE doc_id % 5 != 0 GROUP BY 1),
brep AS (SELECT fp, min(doc_id) AS doc_id FROM fpd WHERE doc_id % 5 = 0 GROUP BY 1),
exsurv AS (SELECT doc_id, fp FROM brep WHERE fp NOT IN (SELECT fp FROM crep)),
pool AS (
  SELECT d.doc_id, d.text FROM fpd d JOIN crep r ON r.doc_id = d.doc_id
  UNION ALL
  SELECT d.doc_id, d.text FROM fpd d JOIN exsurv s ON s.doc_id = d.doc_id
),
"""
    + mh_cte("pool")
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh a JOIN mh b
        ON a.doc_id % 5 != 0 AND b.doc_id % 5 = 0
       AND ("""
    + " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(MINHASH_K))
    + """)
    ),
"""
    + JPAIRS_CTE
    + """
    SELECT doc_id, fp FROM crep
    UNION ALL
    SELECT s.doc_id, s.fp FROM exsurv s
    WHERE s.doc_id NOT IN (SELECT id_b FROM jpairs)
    """
)


@query(
    "stream_dedup_ingest",
    oracle=STREAM_DEDUP_ORACLE,
    description=(
        "I1-I3 streaming: three AvailableNow micro-batches through the "
        "continuous dedup-ingest pipeline (corpus seed, ingest batch, full "
        "replay) into a TxTable; the oracle states the final corpus — exact "
        "+ minhash/Jaccard dedup semantics AND replay idempotence ride the "
        "driver hash"
    ),
)
def q_stream_dedup_ingest(spark, sf_dir):
    from h2outility_spark.streaming.incremental import stream_dedup_ingest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = scratch_dir("h2ou_sdi_src_")
    tbl = scratch_dir("h2ou_sdi_tbl_") + "/corpus"
    ckpt = scratch_dir("h2ou_sdi_ckpt_") + "/ckpt"
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    stream = spark.readStream.schema(docs.schema).format("parquet").load(src)

    # Hand-written, not _drop_and_drain: the sink, the engine's
    # stream_dedup_ingest, drains itself. coalesce(1): exactly one new file
    # per drain -> exactly one micro-batch per drain.
    corpus.coalesce(1).write.mode("append").parquet(src)
    stream_dedup_ingest(stream, tbl, ckpt)
    batch.coalesce(1).write.mode("append").parquet(src)
    stream_dedup_ingest(stream, tbl, ckpt)
    batch.coalesce(1).write.mode("append").parquet(src)
    # every doc is a dup now -> must commit nothing
    stream_dedup_ingest(stream, tbl, ckpt)

    return TxTable(spark, tbl, key_cols=["doc_id"]).snapshot().select("doc_id", "fp")


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


def _drop_and_drain(batches, build, sink, output_mode: str) -> None:
    """The file-drop scenario: a parquet drop directory tailed as a stream
    through ONE checkpoint. Each frame of ``batches`` lands as one new file
    (``coalesce(1)``) and is then drained (:func:`drain_available_now`
    into ``sink`` with ``output_mode``), so each drain is exactly one
    micro-batch and batch ids run 0, 1, 2, ... in ``batches`` order — a
    later batch's totals must come out of the RESTORED state store.
    ``build`` maps the source stream, read with ``batches[0].schema``, to
    the drained one; it is applied once, so every drain restarts the same
    plan. Owns the drop directory and the checkpoint."""
    src = scratch_dir("h2ou_drop_src_")
    ckpt = scratch_dir("h2ou_drop_ckpt_") + "/ckpt"
    spark = batches[0].sparkSession
    stream = build(spark.readStream.schema(batches[0].schema).format("parquet").load(src))
    for batch in batches:
        batch.coalesce(1).write.mode("append").parquet(src)
        drain_available_now(stream, ckpt, sink, output_mode)


def _cut_and_flush(ev):
    """The event-time scenario's three drops of ``ev``: the rows before
    ``_STREAM_CUT``, the rows from it, then one far-future sentinel row at
    ``_FLUSH_TS`` that advances the watermark past every real window, so
    append mode emits them all (the production "close the books"
    pattern). The sentinel, built from ``ev.schema``, reads ``__flush__``
    in its strings and -1 in its numbers, so each query filters it back
    out; its timestamp is a string cast in the session time zone, so no
    Python-local time zone enters."""
    cut = F.lit(_STREAM_CUT).cast("timestamp")
    fields = ev.schema.fields
    literal = {"timestamp": _FLUSH_TS, "string": "__flush__"}
    flush = ev.sparkSession.createDataFrame(
        [tuple(literal.get(f.dataType.simpleString(), "-1") for f in fields)],
        ", ".join(f"{f.name} string" for f in fields),
    ).select(*(F.col(f.name).cast(f.dataType) for f in fields))
    return [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut), flush]


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
    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
    out = scratch_dir("h2ou_swm_out_") + "/out"

    def build(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("win.start").alias("hour_start"), "event_type", "cnt")
        )

    _drop_and_drain(_cut_and_flush(ev), build, out, "append")
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
    ev = _t(spark, sf_dir, "events").select("ts", "user_id")
    out = scratch_dir("h2ou_ssw_out_") + "/out"

    def build(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "6 hours").alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
        )

    _drop_and_drain(_cut_and_flush(ev), build, out, "append")
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
    from h2outility_spark.streaming.incremental import stream_session_paths

    ev = _t(spark, sf_dir, "events").select("ts", "user_id", "event_type", "event_id")
    out = scratch_dir("h2ou_ssp_out_") + "/out"
    _drop_and_drain(_cut_and_flush(ev), stream_session_paths, out, "append")
    return (
        read_parquet(spark, out)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "session_start", "n_events", "path")
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
    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").cast("long").alias("c_nationkey")
    )
    out = scratch_dir("h2ou_sse_out_") + "/out"

    def slice_mod(lo: int, hi: int):
        m = F.col("o_orderkey") % 100
        return base.filter((m >= lo) & (m < hi))

    def build(stream):
        return stream.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")).select(
            "o_orderkey", "o_custkey", "c_nationkey", "o_totalprice"
        )

    _drop_and_drain([slice_mod(0, 2), slice_mod(2, 4)], build, out, "append")
    return read_parquet(spark, out)


# -- streaming OHLC: ordered-aggregate state under append mode ------------------

STREAM_OHLC_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       floor((first(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS open,
       floor((max(value)) * 100.0 + 0.5) / 100.0 AS high,
       floor((min(value)) * 100.0 + 0.5) / 100.0 AS low,
       floor((last(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS close,
       CAST(count(*) AS BIGINT) AS n_obs
FROM events
GROUP BY 1, 2
"""


@query(
    "stream_ohlc",
    oracle=STREAM_OHLC_ORACLE,
    description="streaming hourly OHLC: ordered-aggregate (argmin/argmax) state across micro-batches",
)
def q_stream_ohlc(spark, sf_dir):
    """Streaming twin of ``series_ohlc``: hourly OHLC per event type
    maintained by a WATERMARKED streaming aggregation whose open/close
    are ORDERED aggregates (min_by/max_by over a (ts, event_id) struct) —
    the state store must carry the argmin/argmax pair per open window
    across micro-batch boundaries, a strictly richer state shape than the
    certified count/sum windows. Two real micro-batches + the flush
    sentinel, drained with ``Trigger.AvailableNow`` against one
    checkpoint; the sentinel's window is filtered back out. State is
    O(open windows × types), never O(events)."""
    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value", "event_id")
    out = scratch_dir("h2ou_sohlc_out_") + "/out"
    order_key = F.struct(F.col("ts"), F.col("event_id"))

    def build(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                fround(F.min_by(F.col("value"), order_key), 2).alias("open"),
                fround(F.max("value"), 2).alias("high"),
                fround(F.min("value"), 2).alias("low"),
                fround(F.max_by(F.col("value"), order_key), 2).alias("close"),
                F.count(F.lit(1)).alias("n_obs"),
            )
            .select(F.col("win.start").alias("hour_start"), "event_type", "open", "high", "low", "close", "n_obs")
        )

    _drop_and_drain(_cut_and_flush(ev), build, out, "append")
    return (
        read_parquet(spark, out)
        .filter(F.col("event_type") != "__flush__")
        .select("hour_start", "event_type", "open", "high", "low", "close", "n_obs")
    )


# -- streaming ingestion maintaining a materialized view (IVM composition) --------

STREAM_IVM_ORACLE = """
SELECT o_custkey % 50 AS cust_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
"""


@query(
    "stream_ivm_agg",
    oracle=STREAM_IVM_ORACLE,
    description="foreachBatch advancing a TxTable-materialized (count,sum) view — touched-buckets-only merges",
)
def q_stream_ivm_agg(spark, sf_dir):
    """The production composition: a STREAM ingests micro-batches and a
    TxTable-materialized (count, sum) view is advanced incrementally per
    batch — ``foreachBatch`` treats each micro-batch as an insert-only
    change feed for ``ivm.maintain_grouped_agg`` and upserts ONLY the
    touched buckets back through the transactional merge. Nothing ever
    recomputes from scratch and no batch is double-applied (the oracle is
    the from-scratch aggregate of the full table, in integer cents, so
    any drop/double-apply flips the hash). State per batch is O(changed
    buckets); the view lives in the lakehouse, not driver memory.

    Honesty note: ``foreachBatch`` is at-least-once — a crash between the
    merge commit and the checkpoint write would replay the batch on
    restart. A production deployment makes the merge idempotent by
    recording the last-applied batch_id in the view table and skipping
    replays; the drained-to-completion runs here never replay, so the
    hash certifies the maintenance algebra, not that recovery path."""
    from h2outility_spark.operators import ivm

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    sel = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    view = TxTable(spark, scratch_dir("h2ou_sivm_view_") + "/t", key_cols=["cust_bucket"])
    state = {"initialized": False}

    def handle(batch_df, _batch_id) -> None:
        if not state["initialized"]:
            view.append(
                ivm.aggregate_state(batch_df, ["cust_bucket"], "cents")
            )
            state["initialized"] = True
            return
        changes = batch_df.withColumn("_change_type", F.lit("insert"))
        new_view = ivm.maintain_grouped_agg(view.snapshot(), changes, ["cust_bucket"], "cents")
        touched = changes.select("cust_bucket").distinct()
        view.merge_upsert(new_view.join(touched, ["cust_bucket"], "left_semi"))

    k = F.col("o_orderkey") % 2
    _drop_and_drain([sel.filter(k == 0), sel.filter(k == 1)], lambda s: s, handle, "append")
    return view.snapshot().select("cust_bucket", "n_orders", "total_cents")


STREAM_CHUNK_ORACLE = CHUNK_SLIDING_ORACLE


@query(
    "stream_chunk_flow",
    oracle=STREAM_CHUNK_ORACLE,
    description="streaming twin of the sliding-window RAG chunker: stateless flatMap under AvailableNow",
)
def q_stream_chunk_flow(spark, sf_dir):
    """Streaming twin of ``chunk_sliding``: the RAG chunker applied to a
    document STREAM — two micro-batches drained through one checkpoint,
    each document chunked exactly once (stateless narrow transform, so
    streaming adds no state at all; exactly-once comes from the source
    tracking + append sink). Output is byte-identical to the certified
    batch chunking — the same oracle proves it."""
    from h2outility_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("h2ou_schunk_out_") + "/out"
    k = F.col("doc_id") % 2
    _drop_and_drain(
        [docs.filter(k == 0), docs.filter(k == 1)],
        lambda s: T.chunk_sliding(s, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE),
        out,
        "append",
    )
    return read_parquet(spark, out)


# -- the full production loop: stream -> lakehouse -> CDF -> MIN/MAX IVM ----------

STREAM_MINMAX_ORACLE = TXTABLE_MINMAX_ORACLE


@query(
    "stream_minmax_ivm",
    oracle=STREAM_MINMAX_ORACLE,
    description="full production loop: stream → merge_upsert → CDF → bounded MIN/MAX IVM per micro-batch",
)
def q_stream_minmax_ivm(spark, sf_dir):
    """The complete incremental pipeline on one hash: a STREAM of upsert
    batches lands in a TxTable through ``foreachBatch`` + merge_upsert,
    and after every commit the bounded MIN/MAX view state is advanced
    from that commit's CHANGE FEED ONLY (``t.changes(v_prev, v_new)`` →
    ``ivm.maintain_grouped_minmax`` with k=2, so the merge's
    delete+insert pairs exercise the horizon/rescan algebra on real
    data). The maintained state is materialized per batch and the final
    batch's state is returned; the oracle recomputes min/max/count from
    the final table — a drift anywhere in the stream→merge→CDF→maintain
    chain flips the hash. This is the shape a 100 TB live view runs:
    per-batch cost O(changes) + the targeted-rescan tail, never
    O(table)."""
    from h2outility_spark.operators import ivm

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

    state_dir = scratch_dir("h2ou_smm_state_")
    t = TxTable(spark, scratch_dir("h2ou_smm_tbl_") + "/t", key_cols=["o_orderkey"])
    ctl: dict = {"version": None, "state_path": None, "n_batches": 0}

    def handle(batch_df, batch_id) -> None:
        if ctl["version"] is None:
            v = t.append(batch_df)
            state = ivm.minmax_state(t.snapshot(v), ["cust_bucket"], "cents")
        else:
            v_prev = ctl["version"]
            v = t.merge_upsert(batch_df)
            old_state = read_parquet(spark, ctl["state_path"])
            # The caller KNOWS the key domain (cust_bucket in [0, 50)), so the
            # broadcast guard's per-batch distinct-count job is skipped via the
            # n_changed_keys hint — in a per-micro-batch loop that extra Spark
            # job would otherwise run on every commit (ADVICE r9 / VERDICT r9 #2).
            state = ivm.maintain_grouped_minmax(
                old_state,
                t.changes(v_prev, v),
                t.snapshot(v),
                ["cust_bucket"],
                "cents",
                n_changed_keys=50,
            )
        path = os.path.join(state_dir, f"state_v{v}")
        state.write.mode("overwrite").parquet(path)
        ctl["version"] = v
        ctl["state_path"] = path
        ctl["n_batches"] += 1

    _drop_and_drain([base, upd], lambda s: s, handle, "append")
    assert ctl["n_batches"] == 2, ctl

    final = read_parquet(spark, ctl["state_path"])
    return final.select(
        "cust_bucket",
        F.col("n").alias("n_orders"),
        F.element_at("kmin", 1).alias("min_cents"),
        F.element_at("kmax", 1).alias("max_cents"),
    )


STREAM_MIXTURE_ORACLE = f"""
WITH tok AS (
  SELECT source, {_N_TOKENS_SQL} AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM tok GROUP BY source
),
planned AS (
  SELECT source, n_docs, total_tokens,
         (200000.0 / count(*) OVER ())
           / (CASE WHEN total_tokens > 0 THEN CAST(total_tokens AS DOUBLE) END) AS epochs
  FROM per_src
)
SELECT source, n_docs, total_tokens,
       {sql_round("epochs", 6)} AS epochs,
       {sql_round("least(epochs, 4.0)", 6)} AS capped_epochs,
       {sql_round("least(epochs, 4.0) * CAST(total_tokens AS DOUBLE)", 2)} AS planned_tokens,
       CAST(epochs < 1.0 AS BOOLEAN) AS downsampled
FROM planned
"""


@query(
    "stream_mixture_plan",
    oracle=STREAM_MIXTURE_ORACLE,
    description="streaming twin of mixture_plan_tokens: complete-mode per-source totals surviving a restart",
)
def q_stream_mixture_plan(spark, sf_dir):
    """Streaming twin of the certified ``mixture_plan_tokens``: the
    per-source (doc count, token sum) totals are maintained by a
    STREAMING aggregation whose state survives a stream restart — two
    ingest batches drained through the same checkpoint, complete-mode
    output materialized per batch via ``foreachBatch``, last batch's
    totals feeding the same epoch/cap arithmetic as the batch planner.
    State is O(sources), never O(docs); at 100 TB this is the live
    mixture dashboard that re-plans as each ingest lands. Both drains
    share one checkpoint, so batch 1's totals must come out of the
    RESTORED state store, not a re-read of its files."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    b1 = docs.filter(F.col("doc_id") % 5 != 0)
    b2 = docs.filter(F.col("doc_id") % 5 == 0)

    state_path = scratch_dir("h2ou_smix_state_") + "/totals"

    def build(stream):
        return stream.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        )

    # complete mode: every trigger overwrites state_path with the FULL
    # current totals
    _drop_and_drain([b1, b2], build, state_path, "complete")

    per_src = read_parquet(spark, state_path)
    nsrc = F.count(F.lit(1)).over(W.partitionBy())
    safe_tokens = F.when(F.col("total_tokens") > 0, F.col("total_tokens").cast("double"))
    planned = per_src.withColumn("epochs_raw", (F.lit(200000.0) / nsrc) / safe_tokens)
    return planned.select(
        "source",
        "n_docs",
        "total_tokens",
        fround(F.col("epochs_raw"), 6).alias("epochs"),
        fround(F.least(F.col("epochs_raw"), F.lit(4.0)), 6).alias("capped_epochs"),
        fround(
            F.least(F.col("epochs_raw"), F.lit(4.0)) * F.col("total_tokens").cast("double"), 2
        ).alias("planned_tokens"),
        (F.col("epochs_raw") < 1.0).alias("downsampled"),
    )


# -- streaming Count-Min: per-batch grid merge ---------------------------------------

STREAM_CMS_ORACLE = HEAVY_HITTERS_ORACLE


def cms_grid_path(state_dir: str) -> str | None:
    """The grid of the latest committed batch (None before the first)."""
    ids = BatchLedger(state_dir).ids()
    return os.path.join(state_dir, f"grid_{ids[-1]}") if ids else None


def make_cms_handler(spark, state_dir):
    """foreachBatch handler advancing a Count-Min grid of ``user_id`` by cell-wise merge,
    REPLAY-SAFE (foreachBatch is at-least-once): each batch writes
    ``grid_<batch_id>`` (the previous committed grid merged with the
    batch's own) and commits through a :class:`BatchLedger` in
    ``state_dir``. A replayed batch_id returns without touching the grid —
    merging the same rows twice would double-count every cell. A crash
    between the grid write and the marker replays into a deterministic
    ``mode("overwrite")`` of the same path. The latest grid and the batch
    count are read from the ledger. Module-level so the replay unit test
    can re-invoke it with a repeated batch_id directly."""
    from h2outility_spark.operators import sketch

    def apply(batch_df, batch_id) -> str:
        grid = sketch.count_min_table(batch_df, "user_id", depth=_CMS_D, width=_CMS_W)
        prev = cms_grid_path(state_dir)
        if prev is not None:
            grid = (
                grid.unionByName(read_parquet(spark, prev))
                .groupBy("j", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        grid.write.mode("overwrite").parquet(os.path.join(state_dir, f"grid_{batch_id}"))
        return ""

    return BatchLedger(state_dir).handler(apply)


@query(
    "stream_heavy_hitters",
    oracle=STREAM_CMS_ORACLE,
    description="Count-Min grid maintained per micro-batch by cell-wise merge across two checkpointed drains",
)
def q_stream_heavy_hitters(spark, sf_dir):
    """The Count-Min sketch in its production seat: each micro-batch
    sketches ITSELF (one explode + one bounded hash agg) and the running
    grid advances by CELL-WISE MERGE — a union + re-aggregate of two
    d×w grids, never a re-scan of history. Because the merge law is
    exact (grid(A∪B) = grid(A) ⊕ grid(B), unit-pinned), the streamed
    grid is bit-identical to the one-shot grid, so this shares
    ``heavy_hitters_cms``'s oracle: the top-10 exact counts, the CMS
    estimates off the STREAMED grid, and the over-estimate guarantee.
    State is O(d·w) forever; at 100 TB/day each day sketches
    independently and the dashboard merges grids."""
    from h2outility_spark.operators import sketch

    ev = _t(spark, sf_dir, "events").select("user_id")
    b1 = ev.filter(F.col("user_id") % 3 != 0)
    b2 = ev.filter(F.col("user_id") % 3 == 0)

    state_dir = scratch_dir("h2ou_scms_state_")
    _drop_and_drain([b1, b2], lambda s: s, make_cms_handler(spark, state_dir), "append")
    assert len(BatchLedger(state_dir).ids()) == 2, state_dir

    from pyspark.sql import Window as W

    cms = read_parquet(spark, cms_grid_path(state_dir))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    topk = (
        exact.withColumn(
            "rk", F.row_number().over(W.partitionBy().orderBy(F.desc("exact_n"), "user_id"))
        )
        .filter(F.col("rk") <= 10)
        .drop("rk")
    )
    est = sketch.count_min_estimate(
        cms, topk.select("user_id"), "user_id", depth=_CMS_D, width=_CMS_W
    )
    return topk.join(est, "user_id").select(
        "user_id",
        "exact_n",
        F.col("est_n").cast("bigint").alias("est_n"),
        (F.col("est_n") >= F.col("exact_n")).alias("over_ok"),
    )


# -- late-data quarantine: route, never drop ------------------------------------------

_LATE_DELAY_S = 3600

LATE_QUARANTINE_ORACLE = f"""
WITH wm AS (
  SELECT max(ts) - INTERVAL {_LATE_DELAY_S} SECOND AS w
  FROM events WHERE user_id % 2 = 0
)
SELECT event_id, user_id, ts,
       CASE WHEN user_id % 2 = 0 THEN 'ontime'
            WHEN ts < (SELECT w FROM wm) THEN 'late'
            ELSE 'ontime' END AS route
FROM events
"""


def quarantine_watermark(meta_dir: str):
    """The routing watermark: the post-batch watermark the latest committed
    batch recorded as its marker payload (None before any). Each batch
    records max(previous, candidate), so the latest payload is the max over
    all of them — one marker read per batch, however long the ledger."""
    import datetime

    ledger = BatchLedger(meta_dir)
    ids = ledger.ids()
    payload = ledger.payload(ids[-1]) if ids else ""
    return datetime.datetime.fromisoformat(payload) if payload else None


def make_quarantine_handler(main_dir, quar_dir, meta_dir):
    """foreachBatch handler routing below-watermark rows to quarantine,
    REPLAY-SAFE (foreachBatch is at-least-once): each batch routes into
    batch_id-keyed subdirectories with ``mode("overwrite")`` and commits
    through a :class:`BatchLedger` in ``meta_dir``, whose marker records
    the post-batch watermark. A replayed batch_id returns immediately —
    re-routing against the ALREADY-ADVANCED watermark would reroute the
    batch's own rows as late, and a plain append would land every row
    twice. The watermark is read from the ledger on every batch
    (:func:`quarantine_watermark`), never held in memory, so it is
    RESTART-SAFE by construction: a fresh handler in a new process routes
    genuinely-late stragglers against the committed watermark, and a batch
    whose marker commit failed re-routes against the ORIGINAL watermark
    when it is delivered again. Module-level so the replay/restart unit
    tests can re-invoke it with a repeated batch_id directly."""
    import datetime

    def apply(batch_df, batch_id) -> str:
        wm = quarantine_watermark(meta_dir)
        late = batch_df.filter(F.lit(wm is not None) & (F.col("ts") < F.lit(wm)))
        ontime = batch_df.filter(F.lit(wm is None) | (F.col("ts") >= F.lit(wm)))
        ontime.write.mode("overwrite").parquet(os.path.join(main_dir, f"batch_{batch_id}"))
        late.write.mode("overwrite").parquet(os.path.join(quar_dir, f"batch_{batch_id}"))
        # bounded scalar collect: the batch's event-time frontier
        mx = batch_df.agg(F.max("ts")).collect()[0][0]
        new_wm = wm
        if mx is not None:
            cand = mx - datetime.timedelta(seconds=_LATE_DELAY_S)
            new_wm = cand if wm is None else max(wm, cand)
        return "" if new_wm is None else new_wm.isoformat()

    return BatchLedger(meta_dir).handler(apply)


@query(
    "late_data_quarantine",
    oracle=LATE_QUARANTINE_ORACLE,
    description="foreachBatch-owned watermark ROUTES stragglers to quarantine instead of dropping (conservation on the hash)",
)
def q_late_data_quarantine(spark, sf_dir):
    """The late-data policy Structured Streaming does NOT give you:
    instead of silently dropping rows older than the watermark (append
    mode's contract), a production ingest QUARANTINES them for audit and
    replay. ``foreachBatch`` owns the watermark explicitly — per batch it
    (a) routes rows below the current watermark to the quarantine sink,
    (b) lands the rest in the main table, (c) advances the watermark to
    max(event time) − delay, monotonically, exactly like Spark's
    internal bookkeeping. Two deterministic batches: everything batch 1
    saw is on time (no watermark yet); batch 2's stragglers older than
    batch 1's frontier − 1 h go to quarantine. EVERY row rides the hash
    with its route — the invariant is conservation (route, never drop),
    which a silent-drop implementation cannot fake."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    b1 = ev.filter(F.col("user_id") % 2 == 0)
    b2 = ev.filter(F.col("user_id") % 2 != 0)

    main_dir = scratch_dir("h2ou_late_main_")
    quar_dir = scratch_dir("h2ou_late_quar_")
    meta_dir = scratch_dir("h2ou_late_meta_")
    handle = make_quarantine_handler(main_dir, quar_dir, meta_dir)
    _drop_and_drain([b1, b2], lambda s: s, handle, "append")
    assert len(BatchLedger(meta_dir).ids()) == 2, meta_dir

    main = spark.read.schema(ev.schema).parquet(
        os.path.join(main_dir, "batch_*")
    ).withColumn("route", F.lit("ontime"))
    quar = spark.read.schema(ev.schema).parquet(
        os.path.join(quar_dir, "batch_*")
    ).withColumn("route", F.lit("late"))
    return main.unionByName(quar)


# -- streaming JSONL ingestion (tail a drop directory) ---------------------------------

STREAM_JSONL_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


@query(
    "stream_jsonl_ingest",
    oracle=STREAM_JSONL_ORACLE,
    description="JSONL drop-directory streamed (pinned schema, µs format) into a restart-surviving per-type aggregate",
)
def q_stream_jsonl_ingest(spark, sf_dir):
    """The production drop-directory shape: producers append JSON Lines
    files, Spark TAILS the directory as a stream (``readStream.json``
    with a pinned schema + microsecond timestampFormat) and maintains a
    running per-type aggregate across restarts. Composes the two
    certificates upstream of it: the JSONL fidelity (timestamps to the
    µs, exact integer cents — any writer/reader loss flips min/max/sum)
    and the streaming-state recovery (two drains, one checkpoint —
    batch 1's totals must come out of the restored state store).
    State is O(types); at 100 TB/day the files stream through once."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 != 0)

    src = scratch_dir("h2ou_sjsonl_src_")
    ckpt = scratch_dir("h2ou_sjsonl_ckpt_") + "/ckpt"
    state_path = scratch_dir("h2ou_sjsonl_state_") + "/totals"

    agg = (
        spark.readStream.schema(ev.schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .json(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")).alias(
                "total_cents"
            ),
        )
    )

    # Hand-written, not _drop_and_drain: the drops are JSON Lines written
    # and read with a timestamp format, not parquet.
    for b in (b1, b2):
        b.coalesce(1).write.mode("append").option("timestampFormat", _JSON_TS_FMT).json(src)
        drain_available_now(agg, ckpt, state_path, "complete")

    return read_parquet(spark, state_path).select(
        "event_type", "n_events", "first_ts", "last_ts", "total_cents"
    )


STREAM_STRAT_ORACLE = STRATIFIED_SPLIT_ORACLE


@query(
    "stream_stratified_ingest",
    oracle=STREAM_STRAT_ORACLE,
    description="per-source stratified split assigned in-flight per micro-batch, equal to the batch rule",
)
def q_stream_stratified_ingest(spark, sf_dir):
    """The stratified split in its production seat: documents arrive as a
    drop-directory stream and every batch is hash-assigned to
    train/val/test ON INGEST (``text.hash_split`` — md5-cell arithmetic,
    no RNG state), feeding a running per-(source, split) census that
    survives a restart (two drains, one checkpoint; complete-mode state
    overwrite is replay-idempotent). Because the assignment is
    content-hash determined, streaming arrival order CANNOT change any
    doc's split — the certified growth-stability law in its streaming
    form — so the final census equals the certified one-shot
    ``stratified_split`` bit-for-bit, which sharing its oracle
    enforces."""
    from h2outility_spark.operators.text import hash_split, token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 != 0)

    state_path = scratch_dir("h2ou_strat_state_") + "/census"

    def build(stream):
        return hash_split(stream).groupBy("source", "split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        )

    _drop_and_drain([b1, b2], build, state_path, "complete")

    return read_parquet(spark, state_path).select(
        "source", "split", "n_docs", "total_tokens"
    )


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
        # stream_dedup_ingest's per-batch cache of `novel`.
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
