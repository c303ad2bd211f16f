"""Incremental / streaming surface (SURVEY.md §2.10, I1–I3).

The reference has no streaming runtime — its incremental path is
batch + high-watermark + cron (``src/SilentUpdater.py``,
``DatasetUtilities.py:537-565``, ``series_service.py:415-430``). Here it is
Structured Streaming: ``readStream`` + event-time watermark, with
``Trigger.AvailableNow`` as the cron-equivalent "drain what's there and
stop". The registered ``stream_*`` queries build their streams and
aggregates in the registry (the file-drop scenarios through one
drop-and-drain helper, ``workload_streaming._drop_and_drain``); this
module holds what they share — the custom stateful operator
(`stream_session_paths`), the transactional sinks
(`stream_upsert_to_txtable`, `stream_dedup_ingest`) and the apply
discipline.

The apply discipline is two pieces:

  * **One drain** (`drain_available_now`): a stream and its sink (an
    append parquet path, a complete-mode overwrite path, or a
    `foreachBatch` handler) run to completion under the bounded-batch
    shuffle pin (`micro_batch_shuffle`), and the stopped query comes back
    for its ``recentProgress``. Every drain in the engine goes through
    it: it is the one place a ``writeStream`` is started, so the
    transactional sinks drain themselves and no caller stops a query.
  * **One batch-marker ledger** (`BatchLedger`): `foreachBatch` is
    at-least-once, so a handler with effects outside the checkpoint
    commits an atomic `applied_<batch_id>` marker (with an optional
    payload) after its work and skips a replayed id. State derived from
    committed batches is read back from the ledger, so a restart sees
    exactly what was committed.

Scale notes: file-source streaming tracks processed files in the checkpoint
(no re-scan); aggregation state is bounded by the watermark horizon. At
100 TB the source is a log/queue (Kafka) — same plan, different format
string.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from h2outility_spark.session import query_cache, release_query_caches


@contextlib.contextmanager
def micro_batch_shuffle(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to ``defaultParallelism`` (one
    wave over the available cores) for the duration of a streaming drain,
    restoring the session value after, also on error. Results are
    partitioning-independent; only task granularity changes.

    An admission-bounded micro-batch carries a bounded number of bytes no
    matter how large the table grows, so the reduce side of its internal
    shuffles, its state-store instances and its sink files should be sized
    to the batch, not inherit the session's corpus-scale setting. AQE
    cannot fix this (adaptive execution is disabled inside streaming
    micro-batch plans), so without the pin a 200-partition session default
    costs hundreds of near-empty tasks per shuffle per batch (measured
    2.6x end-to-end on the CDC replica drains and 3-10x on the stateful
    streaming queries under a driver-shaped session; OPTIMIZATION_r14.md
    #6). ``defaultParallelism`` grows with the cluster.

    SINGLE-THREADED-SESSION ASSUMPTION: the pin mutates the session-global
    conf, so a batch query planned on the SAME SparkSession concurrently
    with a drain would inherit the pinned value (its results are
    unaffected, only its reduce-task granularity). Every caller in this
    engine drains synchronously on a single driver thread. A deployment
    that interleaves batch queries with drains on one session should drain
    on a cloned session (``spark.newSession()`` shares the cache but not
    the conf)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def drain_available_now(
    stream: DataFrame, checkpoint: str, sink, output_mode: str = "append"
) -> StreamingQuery:
    """Run ``stream`` under ``Trigger.AvailableNow`` until everything
    available is processed, through ``checkpoint``, into ``sink``:

      * a ``foreachBatch(batch_df, batch_id)`` handler (any callable). It
        is called at least once per batch id; a handler that keeps state
        outside the checkpoint commits through a :class:`BatchLedger`;
      * a parquet directory path: with ``output_mode="append"`` the
        append-mode parquet file sink, with ``output_mode="complete"``
        every trigger overwrites the directory with the full current
        result (replay-idempotent).

    This is the one drain of the engine — the cron-equivalent "drain what
    is there and stop" (reference ``src/SilentUpdater.py:10-21``) — and
    the one place the :func:`micro_batch_shuffle` pin is entered.
    processAllAvailable + stop rather than a bare awaitTermination:
    stateful operators with processing-time timeouts keep an AvailableNow
    query alive after the data is drained.

    Returns the STOPPED query: its ``recentProgress`` (per-batch input
    rows and durations) survives the stop, and calling
    ``processAllAvailable``/``stop``/``awaitTermination`` on it again
    returns at once."""
    writer = (
        stream.writeStream.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode(output_mode)
    )
    if callable(sink):
        writer = writer.foreachBatch(sink)
    elif output_mode == "complete":
        writer = writer.foreachBatch(
            lambda batch_df, _batch_id: batch_df.write.mode("overwrite").parquet(sink)
        )
    else:
        writer = writer.format("parquet").option("path", sink)
    with micro_batch_shuffle(stream.sparkSession):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    return q


class BatchLedger:
    """The commit record of a replay-safe ``foreachBatch`` handler.

    ``foreachBatch`` is at-least-once: after a crash between the handler's
    work and the checkpoint commit, the same ``batch_id`` is delivered
    again. A handler whose effects live outside the checkpoint (a grid
    file, routed rows, a replica table) records each applied batch here as
    a marker file ``applied_<batch_id>`` in ``root``, written LAST, and
    skips an id that already has one. The marker is committed atomically:
    written to a dot-prefixed temp file, then ``os.replace``d into place,
    so a crash mid-commit leaves at most an orphaned temp file that is
    never counted as applied. A marker may carry a short text payload (the
    post-batch watermark, for instance), so state derived from committed
    batches is read back from the ledger rather than kept in memory, and a
    restarted process sees exactly what was committed."""

    _PREFIX = "applied_"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.root, f"{self._PREFIX}{batch_id}")

    def ids(self) -> list[int]:
        """Committed batch ids, ascending."""
        return sorted(
            int(n[len(self._PREFIX) :]) for n in os.listdir(self.root) if n.startswith(self._PREFIX)
        )

    def applied(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def payload(self, batch_id: int) -> str:
        with open(self._marker(batch_id)) as f:
            return f.read()

    def commit(self, batch_id: int, payload: str) -> None:
        tmp = os.path.join(self.root, f".{self._PREFIX}{batch_id}.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, self._marker(batch_id))

    def handler(self, apply):
        """Wrap ``apply(batch_df, batch_id) -> payload | None`` as a
        replay-safe ``foreachBatch`` handler: an already-committed id
        returns at once; otherwise ``apply`` runs and its returned payload
        is committed after it. ``None`` commits no marker, so a batch that
        changed nothing (an empty micro-batch) is not counted."""

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            if self.applied(batch_id):
                return
            payload = apply(batch_df, batch_id)
            if payload is not None:
                self.commit(batch_id, payload)

        return handle


def stream_session_paths(events: DataFrame) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState`` —
    the custom-operator ladder rung the built-ins can't reach: per-session
    ORDERED payload. ``session_window`` can count a session's events but
    cannot emit the '>'-joined event-type PATH in time order (ordered
    string aggregation isn't a streaming-aggregate expression); a custom
    state function can, because it owns the session buffer.

    Semantics (mirrored by the batch oracle): events per key sorted by
    (ts, id); a gap STRICTLY greater than 6 hours closes a
    session (same ``>`` convention as the batch ``sessionization``
    query); emitted row = (key, session_start, n_events, path).

    Eager emission: on every invocation, sessions whose last event plus
    the gap sits BELOW the current watermark are emitted immediately (no
    in-horizon event can extend or bridge them: any admissible future
    event has ts >= watermark > last + gap, which is by itself a session
    break) — state holds only the OPEN tail, O(open sessions), never
    O(events). The event-time timeout flushes whatever remains when the
    watermark passes it. Caveat shared with every event-time state op:
    events older than the watermark (which Spark may or may not drop) can
    mis-sessionize; feed ordered-enough data or widen the delay.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 21_600 * 1_000_000
    out_schema = (
        "user_id long, session_start timestamp, n_events long, path string"
    )
    state_schema = "tus array<long>, eid array<long>, ety array<string>"

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (uid,) = key
        if state.exists:
            tus, eid, ety = (list(x) for x in state.get)
        else:
            tus, eid, ety = [], [], []
        for pdf in pdf_iter:
            # normalize to datetime64[us] explicitly: `.astype('int64')//1000`
            # is only microseconds if pandas happened to deliver ns — under
            # pandas-2.x non-ns resolutions the gap math would be 1000x off
            tus.extend(pdf["ts"].astype("datetime64[us]").astype("int64").tolist())
            eid.extend(pdf["event_id"].astype("int64").tolist())
            ety.extend(pdf["event_type"].astype(str).tolist())
        rows = sorted(zip(tus, eid, ety))
        sessions: list[list[tuple]] = []
        cur: list[tuple] = []
        for r in rows:
            if cur and r[0] - cur[-1][0] > gap_us:
                sessions.append(cur)
                cur = [r]
            else:
                cur.append(r)
        if cur:
            sessions.append(cur)

        if state.hasTimedOut:
            emit, keep = sessions, []
        else:
            wm_us = state.getCurrentWatermarkMs() * 1000
            emit = [s for s in sessions if s[-1][0] + gap_us < wm_us]
            keep = [s for s in sessions if s[-1][0] + gap_us >= wm_us]

        if keep:
            flat = [r for s in keep for r in s]
            state.update(
                ([r[0] for r in flat], [r[1] for r in flat], [r[2] for r in flat])
            )
            state.setTimeoutTimestamp(max(r[0] for r in flat) // 1000 + 21_600 * 1000 + 1)
        else:
            state.remove()

        if emit:
            yield pd.DataFrame(
                {
                    "user_id": [uid] * len(emit),
                    "session_start": [pd.to_datetime(s[0][0], unit="us") for s in emit],
                    "n_events": [len(s) for s in emit],
                    "path": [">".join(r[2] for r in s) for s in emit],
                }
            )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_upsert_to_txtable(
    stream_df: DataFrame,
    table_dir: str,
    keys: list[str],
    order_col: str,
    checkpoint_path: str,
):
    """Continuous incremental materialization into a TRANSACTIONAL target:
    each micro-batch is reduced to its newest row per logical key and
    MERGEd into a storage_tx.TxTable — the streaming form of the
    reference's SilentUpdater cron loop (read new rows, upsert into the
    store, repeat).

    The merge is copy-on-write over only the data files whose key range
    overlaps the batch, published by an atomic manifest commit — readers
    see the old or the new snapshot, never a half-written directory. The
    checkpoint
    replays a failed batch; re-merging the same batch is idempotent
    (same keys → same replacement), so exactly-once materialization holds
    end to end. Batch rows are assumed CDC-style newer-than-target;
    within-batch ordering is resolved by ``order_col``.

    Drains everything available (one :func:`drain_available_now`, so the
    merges run under the bounded-batch shuffle pin) and returns the
    stopped StreamingQuery, so a caller neither drains nor stops it.
    """
    from h2outility_spark.storage_tx import TxTable

    spark = stream_df.sparkSession
    table = TxTable(spark, table_dir, key_cols=keys)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(F.col(order_col).desc())
        newest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        table.merge_upsert(newest)

    return drain_available_now(stream_df, checkpoint_path, merge_batch)


def stream_dedup_ingest(stream_docs: DataFrame, table_dir: str, checkpoint_path: str) -> None:
    """Streaming twin of the ``dedup_incremental`` batch query: a document
    stream is deduplicated AGAINST the accumulated corpus and only novel
    docs are committed. Drains everything available (one
    :func:`drain_available_now`) and returns.

    Per micro-batch:
      1. batch-internal exact dedup — one representative (min id) per
         normalized fingerprint, so two copies arriving together insert once;
      2. corpus dedup — ``incremental_neardup_filter`` drops batch docs that
         are exact (fingerprint) or near (minhash band collision + Jaccard >=
         0.2) duplicates of the corpus snapshot;
      3. atomic commit — survivors (id, text, fp) are MERGEd into a
         ``storage_tx.TxTable`` keyed by ``doc_id``; readers only ever see
         whole batches.

    Later batches automatically dedup against earlier ones because the
    corpus snapshot is re-read each batch. Exactly-once: the checkpoint
    replays a failed batch, and a replayed batch is a no-op — every replayed
    doc is now an exact fingerprint duplicate of the corpus, so the survivor
    set is empty and no commit happens (history stays clean).

    Scale: each batch pays |batch| x collision-rate, never corpus x corpus
    (the band join is corpus-signatures x batch-signatures). At 100 TB the
    corpus fingerprint/signature tables would be materialized once and
    appended per commit instead of recomputed from text; the TxTable commit
    itself is O(batch) (copy-on-write over overlapping files only).
    """
    from h2outility_spark.operators.dedup import incremental_neardup_filter
    from h2outility_spark.operators.text import fingerprint
    from h2outility_spark.storage_tx import TxTable

    spark = stream_docs.sparkSession
    table = TxTable(spark, table_dir, key_cols=["doc_id"])

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        # NULL-text docs are dropped up front (policy: un-fingerprintable,
        # nothing to dedup against); empty strings are real, fingerprinted
        # content and flow through.
        wfp = batch_df.filter(F.col("text").isNotNull()).select(
            F.col("doc_id"), F.col("text"), fingerprint(F.col("text")).alias("fp")
        )
        # Batch-internal dedup, both directions: one representative (min id)
        # per fingerprint AND one row per id (an at-least-once source can
        # redeliver the same id in one batch; min-fp tie-break keeps the
        # choice deterministic).
        reps = wfp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        batch_u = (
            wfp.join(reps, ["doc_id", "fp"])
            .withColumn("__rn", F.row_number().over(W.partitionBy("doc_id").orderBy("fp")))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if table.latest_version() is None:
            novel = batch_u
        else:
            existing = table.snapshot().select("doc_id", "text")
            survivors = incremental_neardup_filter(batch_u.select("doc_id", "text"), existing)
            novel = survivors.join(batch_u.select("doc_id", "text"), "doc_id").select(
                "doc_id", "text", "fp"
            )
        # The emptiness probe, merge bounds collect, and staged write each
        # action `novel` — cache it so the band join + Jaccard verification
        # run once per batch. Every cache of this batch is recorded under
        # its own session, so the release frees exactly those.
        novel = query_cache(novel)
        try:
            if novel.limit(1).count() > 0:
                table.merge_upsert(novel)
        finally:
            release_query_caches(batch_df.sparkSession)

    drain_available_now(stream_docs, checkpoint_path, ingest)
