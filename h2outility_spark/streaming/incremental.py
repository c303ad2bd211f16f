"""Incremental / streaming surface (SURVEY.md §2.10, I1–I3).

The reference has no streaming runtime — its incremental path is
batch + high-watermark + cron (``src/SilentUpdater.py``,
``DatasetUtilities.py:537-565``, ``series_service.py:415-430``). Spark
gives us both forms:

  * **Batch watermark append** (`incremental_append`): the faithful
    re-expression — read the bookmark, extract `ts > watermark`, dedup
    within the new slice, append. Idempotent against re-runs when the sink
    dedups on the logical key (I3's UNIQUE-constraint analog).
  * **Structured Streaming** (`stream_*`): the native form —
    `readStream` + event-time watermark + windowed aggregation, with
    `Trigger.AvailableNow` as the cron-equivalent "drain what's there and
    stop". Late/duplicate defense via `withWatermark` + `dropDuplicates`.

Scale notes: file-source streaming tracks processed files in the checkpoint
(no re-scan); aggregation state is bounded by the watermark horizon. At
100 TB the source is a log/queue (Kafka) — same plan, different format
string.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from h2outility_spark.operators.mutation import drop_logical_duplicates
from h2outility_spark.sources.parquet import read_parquet


def bounded_batch_shuffle_partitions(spark: SparkSession) -> int | None:
    """Reduce-partition count for the INTERNAL jobs of an admission-bounded
    micro-batch (foreachBatch handlers, the TxTable apply path).

    A micro-batch under admission control (``maxVersionsPerBatch`` /
    ``maxBytesPerBatch``) carries a bounded number of bytes no matter how
    large the table grows, so the reduce side of its internal shuffles
    should be sized to the batch — one wave over the available cores — not
    inherit the session's corpus-scale ``spark.sql.shuffle.partitions``.
    AQE cannot fix this (adaptive execution is disabled inside streaming
    micro-batch plans), so without the pin a 200-partition session default
    costs hundreds of near-empty tasks per shuffle per batch (measured
    2.6x end-to-end on the CDC replica drains under a driver-shaped
    session; see OPTIMIZATION_r14.md #6).

    Scale-parameterised, not a local constant: defaults to
    ``defaultParallelism`` (total cores — grows with the cluster), and
    ``SPARK_GRAFT_BATCH_SHUFFLE_PARTITIONS`` overrides it for deployments
    whose byte cap warrants more (0/empty disables the pin entirely).
    """
    env = os.environ.get("SPARK_GRAFT_BATCH_SHUFFLE_PARTITIONS")
    if env is not None and env.strip() != "":
        try:
            n = int(env)
        except ValueError:
            # A malformed override must degrade to the default, not crash
            # every drain (ADVICE r14).
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_BATCH_SHUFFLE_PARTITIONS={env!r} is not an "
                "integer; falling back to defaultParallelism",
                stacklevel=2,
            )
            return spark.sparkContext.defaultParallelism
        return n if n > 0 else None
    return spark.sparkContext.defaultParallelism


@contextlib.contextmanager
def micro_batch_shuffle(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the bounded-batch size for
    the duration of a streaming drain, restoring the session value after.
    Results are partitioning-independent; only task granularity changes.

    SINGLE-THREADED-SESSION ASSUMPTION (ADVICE r14): the pin mutates the
    session-global conf, so a batch query planned on the SAME SparkSession
    concurrently with a drain would silently inherit the pinned value
    (its results are unaffected — only its reduce-task granularity). Every
    caller in this engine drains synchronously on a single driver thread
    (driver contract, bench, tests). A deployment that interleaves batch
    queries with drains on one session should either pin via a cloned
    session (``spark.newSession()`` shares the cache but not the conf) or
    disable the pin with SPARK_GRAFT_BATCH_SHUFFLE_PARTITIONS=0."""
    n = bounded_batch_shuffle_partitions(spark)
    if n is None:
        yield
        return
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def drain_available_now(spark: SparkSession, writer, await_secs: int = 30) -> None:
    """Start a (typically ``availableNow``) streaming writer and drain it
    to completion under the bounded-batch shuffle pin.

    One definition of the start/processAllAvailable/stop/awaitTermination
    drain so every micro-batch in the workload runs its internal shuffles,
    state-store instances and sink files at :func:`bounded_batch_shuffle_partitions`
    granularity instead of the session's corpus-scale setting (AQE cannot
    coalesce streaming plans; measured 3-10x end-to-end on the stateful
    streaming queries under a 200-partition driver-shaped session —
    OPTIMIZATION_r14.md #6). processAllAvailable + stop rather than a bare
    awaitTermination: stateful operators with processing-time timeouts keep
    an AvailableNow query alive after the data is drained."""
    with micro_batch_shuffle(spark):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(await_secs)


def incremental_append(
    dv: DataFrame,
    existing: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "LocalDateTime",
) -> DataFrame:
    """I2+I3: compute the watermark from what is already exported, take the
    strictly-newer slice, defend against duplicates on the logical key, and
    return the union. The watermark aggregate is a metadata-only min/max on
    parquet sources."""
    wm = existing.agg(F.max(ts_col).alias("wm"))
    fresh = (
        dv.join(F.broadcast(wm))
        # NULL watermark (empty/all-null existing) means -infinity: the
        # bootstrap run must take everything, not silently drop it all.
        .filter(F.col("wm").isNull() | (F.col(ts_col) > F.col("wm")))
        .drop("wm")
    )
    fresh = drop_logical_duplicates(fresh, keys)
    return existing.unionByName(fresh, allowMissingColumns=True)


def stream_events(spark: SparkSession, sf_dir: str, schema) -> DataFrame:
    """File-source stream over the events table (for tests/local smoke the
    parquet directory stands in for the queue)."""
    return spark.readStream.schema(schema).format("parquet").load(sf_dir)


def stream_windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Event-time tumbling window aggregation with late-data watermark —
    the extension surface the reference's cron loop approximates."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), key_col)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), key_col, "n", "sum_value")
    )


def stream_sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Native session windows (dynamic gap-close) — the streaming form of
    the batch sessionization query."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def stream_session_paths(
    events: DataFrame,
    gap_seconds: int = 21_600,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState`` —
    the custom-operator ladder rung the built-ins can't reach: per-session
    ORDERED payload. ``session_window`` can count a session's events but
    cannot emit the '>'-joined event-type PATH in time order (ordered
    string aggregation isn't a streaming-aggregate expression); a custom
    state function can, because it owns the session buffer.

    Semantics (mirrored by the batch oracle): events per key sorted by
    (ts, id); a gap STRICTLY greater than ``gap_seconds`` closes a
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

    gap_us = gap_seconds * 1_000_000
    out_schema = (
        f"{key_col} long, session_start timestamp, n_events long, path string"
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
            tus.extend(pdf[ts_col].astype("datetime64[us]").astype("int64").tolist())
            eid.extend(pdf[id_col].astype("int64").tolist())
            ety.extend(pdf[type_col].astype(str).tolist())
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
            state.setTimeoutTimestamp(max(r[0] for r in flat) // 1000 + gap_seconds * 1000 + 1)
        else:
            state.remove()

        if emit:
            yield pd.DataFrame(
                {
                    key_col: [uid] * len(emit),
                    "session_start": [pd.to_datetime(s[0][0], unit="us") for s in emit],
                    "n_events": [len(s) for s in emit],
                    "path": [">".join(r[2] for r in s) for s in emit],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_deduped_append(
    events: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """I3: drop duplicate records within the watermark horizon — the
    streaming analog of the reference's UNIQUE constraint."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_upsert_to_parquet(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_path: str,
    query_name: str = "upsert",
):
    """Continuous incremental materialization: each micro-batch is MERGEd
    into a parquet target via ``foreachBatch`` — the streaming form of the
    reference's SilentUpdater cron loop (read new rows, upsert into the
    store, repeat), with the checkpoint giving exactly-once batch replay.

    Each batch applies ``mutation.upsert`` (newest-per-key wins by
    ``order_col``) against the current target and swaps via write-to-temp
    + overwrite — a full rewrite, and the swap itself is not atomic. Kept
    for bare-directory targets; ``stream_upsert_to_txtable`` below is the
    transactional upgrade (atomic manifest commit, copy-on-write merge of
    only the touched files) and the one to use.

    Returns the started StreamingQuery (caller stops/awaits).
    """
    from h2outility_spark.operators.mutation import upsert

    spark = stream_df.sparkSession

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            current = read_parquet(spark, target_path)
        except Exception:
            current = None
        if current is None:
            merged = drop_logical_duplicates(batch_df, keys)
        else:
            merged = upsert(current, batch_df, keys, order_col)
        tmp = f"{target_path}__staging"
        merged.write.mode("overwrite").parquet(tmp)
        read_parquet(spark, tmp).write.mode("overwrite").parquet(target_path)

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    band_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: right rows within ±band of each left
    row on the same key — the streaming form of the batch range join
    (operators/asof.range_join_count).

    Both sides carry an event-time watermark, and the join condition bounds
    right's event time relative to left's, so Spark can size the join state
    buffer (watermark + band) and evict expired rows — without the time
    bound a stream-stream join would buffer forever. At 100 TB/day the
    state store holds only ``2·band + watermark`` worth of rows per key.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND "
        f"r.{right_ts} >= l.{left_ts} - INTERVAL {band_seconds} SECONDS AND "
        f"r.{right_ts} <= l.{left_ts} + INTERVAL {band_seconds} SECONDS"
    )
    return lw.join(rw, cond)


def stream_upsert_to_txtable(
    stream_df: DataFrame,
    table_dir: str,
    keys: list[str],
    order_col: str,
    checkpoint_path: str,
    query_name: str = "tx-upsert",
):
    """Continuous incremental materialization into a TRANSACTIONAL target:
    each micro-batch is reduced to its newest row per logical key and
    MERGEd into a storage_tx.TxTable.

    This upgrades ``stream_upsert_to_parquet``'s documented trade (full
    rewrite + non-atomic directory swap) with the real thing: the merge is
    copy-on-write over only the data files whose key range overlaps the
    batch, published by an atomic manifest commit — readers see the old or
    the new snapshot, never a half-written directory. The checkpoint
    replays a failed batch; re-merging the same batch is idempotent
    (same keys → same replacement), so exactly-once materialization holds
    end to end. Batch rows are assumed CDC-style newer-than-target;
    within-batch ordering is resolved by ``order_col``.
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

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_ingest(
    stream_docs: DataFrame,
    table_dir: str,
    checkpoint_path: str,
    num_hashes: int = 8,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "dedup-ingest",
):
    """Streaming twin of the ``dedup_incremental`` batch query: a document
    stream is continuously deduplicated AGAINST the accumulated corpus and
    only novel docs are committed.

    Per micro-batch:
      1. batch-internal exact dedup — one representative (min id) per
         normalized fingerprint, so two copies arriving together insert once;
      2. corpus dedup — ``incremental_neardup_filter`` drops batch docs that
         are exact (fingerprint) or near (minhash band collision + Jaccard >=
         ``threshold``) duplicates of the corpus snapshot;
      3. atomic commit — survivors (id, text, fp) are MERGEd into a
         ``storage_tx.TxTable`` keyed by ``id_col``; readers only ever see
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
    table = TxTable(spark, table_dir, key_cols=[id_col])

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        # NULL-text docs are dropped up front (policy: un-fingerprintable,
        # nothing to dedup against); empty strings are real, fingerprinted
        # content and flow through.
        wfp = batch_df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col), F.col(text_col), fingerprint(F.col(text_col)).alias("fp")
        )
        # Batch-internal dedup, both directions: one representative (min id)
        # per fingerprint AND one row per id (an at-least-once source can
        # redeliver the same id in one batch; min-fp tie-break keeps the
        # choice deterministic).
        reps = wfp.groupBy("fp").agg(F.min(id_col).alias(id_col))
        batch_u = (
            wfp.join(reps, [id_col, "fp"])
            .withColumn("__rn", F.row_number().over(W.partitionBy(id_col).orderBy("fp")))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        caches: list[DataFrame] = []
        if table.latest_version() is None:
            novel = batch_u
        else:
            existing = table.snapshot().select(id_col, text_col)
            survivors = incremental_neardup_filter(
                batch_u.select(id_col, text_col),
                existing,
                num_hashes=num_hashes,
                threshold=threshold,
                id_col=id_col,
                text_col=text_col,
                cache_registry=caches,
            )
            novel = survivors.join(batch_u.select(id_col, text_col), id_col).select(
                id_col, text_col, "fp"
            )
        # The emptiness probe, merge bounds collect, and staged write each
        # action `novel` — cache it so the band join + Jaccard verification
        # run once per batch, and unpersist both handles before returning.
        novel = novel.cache()
        caches.append(novel)
        try:
            if novel.limit(1).count() > 0:
                table.merge_upsert(novel)
        finally:
            for c in caches:
                c.unpersist()

    return (
        stream_docs.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(stream_df: DataFrame, query_name: str = "drain") -> list:
    """Drain everything currently available (Trigger.AvailableNow), collect
    from the in-memory sink, stop — the cron-equivalent one-shot run (I1)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    # processAllAvailable + stop rather than awaitTermination: stateful
    # operators with processing-time timeouts keep an AvailableNow query
    # alive after the data is drained (timeout batches), so a plain await
    # never returns.
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {query_name}").collect()
