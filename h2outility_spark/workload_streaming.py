"""Driver-hashable Structured Streaming queries — the last subsystem that
had only pytest evidence (VERDICT r6 §missing #1).

Each query runs a real streaming pipeline to COMPLETION inside the query
fn (``Trigger.AvailableNow`` — the cron-equivalent "drain what's there and
stop", reference analog ``src/SilentUpdater.py:10-21``) and returns the
materialized result frame, so the driver's DuckDB hash certifies the
streaming semantics end to end, exactly like the lakehouse queries certify
in-query commits:

  * ``stream_dedup_ingest`` — the streaming twin of ``dedup_incremental``:
    three micro-batches (corpus seed, ingest batch, full replay of the
    ingest batch) through ``streaming.incremental.stream_dedup_ingest``
    into a TxTable. The oracle states the final corpus algebraically:
    batch-internal exact dedup (min-id representative per fingerprint),
    exact + minhash/Jaccard dedup of the batch against the corpus
    snapshot, and — because the replayed third batch must be a no-op —
    any duplicate row the replay leaked would flip the hash.
  * ``txtable_stream_tail`` — the custom Python DataSource
    (``txtable_stream``) that streams a TxTable's append tail with table
    versions as offsets: two appends, a drain into a checkpointed parquet
    sink, two more appends AND a compaction, a second drain resuming from
    the checkpoint. Exactly-once is the hashed property: a re-emitted or
    dropped row (e.g. compaction leaking its rewritten files) breaks the
    row count.

Scale notes: both pipelines are the 100 TB shape already — the dedup
stream pays |batch| x collision-rate per micro-batch (never corpus x
corpus) and commits O(batch) via copy-on-write merge; the tail source
plans one partition per ADDED file from a manifest diff (O(changed
files), executors read parquet in parallel).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import load_table, read_parquet
from h2outility_spark.storage_tx import TxTable
from h2outility_spark.streaming.incremental import drain_available_now
from h2outility_spark.workload import _t, query
from h2outility_spark.workload_lakehouse import scratch_dir
from h2outility_spark.workload_text import JPAIRS_CTE, MINHASH_K, mh_cte

# THE cross-engine whitespace class, imported (not copied) so the oracle
# can never drift from the Spark-side normalizer it must mirror: the
# backslash escapes are interpreted identically by Java regex (Spark
# side) and RE2 inside the DuckDB string literal this renders into.
from h2outility_spark.operators.text import WS_CLASS as _WS  # noqa: E402

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

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = scratch_dir("h2ou_sdi_src_")
    tbl = scratch_dir("h2ou_sdi_tbl_") + "/corpus"
    ckpt = scratch_dir("h2ou_sdi_ckpt_") + "/ckpt"
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    def drain(name: str) -> None:
        from h2outility_spark.streaming.incremental import micro_batch_shuffle

        with micro_batch_shuffle(spark):
            stream = spark.readStream.schema(docs.schema).format("parquet").load(src)
            q = stream_dedup_ingest(stream, tbl, ckpt, query_name=name)
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(30)

    # coalesce(1): exactly one new file per drain -> exactly one micro-batch
    # per drain regardless of file-source batching defaults.
    corpus.coalesce(1).write.mode("append").parquet(src)
    drain("sdi-seed")
    batch.coalesce(1).write.mode("append").parquet(src)
    drain("sdi-ingest")
    batch.coalesce(1).write.mode("append").parquet(src)
    drain("sdi-replay")  # every doc is a dup now -> must commit nothing

    return TxTable(spark, tbl, key_cols=["doc_id"]).snapshot().select("doc_id", "fp")


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

    def drain(name: str) -> None:
        stream = spark.readStream.format("txtable_stream").option("path", tdir).load()
        drain_available_now(
            spark,
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .queryName(name)
            .trigger(availableNow=True),
        )

    drain("txtail-first")  # emits v1 + v2
    t.append(slice_mod(4, 5))
    # pure rewrite: the tail source must emit NOTHING for this version
    t.compact_files(target_rows=10_000_000, small_rows=10_000_000)
    t.append(slice_mod(5, 6))
    drain("txtail-resume")  # resumes past v2, emits v3 + v5 only

    return read_parquet(spark, out)
