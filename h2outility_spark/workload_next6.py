"""Round-11 promotion of the round-10 staging area (same lifecycle as
``workload_next`` → ``workload_next5``): all 12 pairs were staged
tri-scale parity-green in round 10 and wrapped with ``@query`` in round
11 (VERDICT r10 directive 1), entering the registry and the checked
window together.

Each pair remains parity-tested in ``tests/test_workload_next.py``
(STAGED6) under the driver's comparison discipline at sf0.001 AND sf0.01.

Coverage targets:
  * ``dedup_incremental_lsh`` — the near-dup ingest shape at 100 TB: a
    NEW document batch is MinHash-signed and probed against the existing
    corpus's banded index (``dedup.lsh_candidate_pairs_between``), then
    the candidates are exact-Jaccard verified. Only the batch is signed
    fresh; the corpus is never re-paired against itself. (The exact-hash
    sibling ``dedup_incremental`` is certified; this is its near-dup
    twin.)
  * ``neardup_ensemble_agree`` — the cross-modal dedup policy real
    pipelines run before deleting anything: every text-leg near-dup
    pair (MinHash bands → Jaccard ≥ 0.2) is re-scored with its exact
    embedding cosine and flagged where the second modality confirms.
    The oracle recomputes both legs independently; cosine values AND
    flags ride the hash.
  * ``quality_drift_weekly`` — the monitoring shape: per-series weekly
    median plus its week-over-week delta (lag window), the drift alarm a
    production corpus pipeline watches per source.
  * ``txtable_zorder_race`` — snapshot isolation through a PHYSICAL
    rewrite: a pinned reader materializes v2 while a writer merges and
    then OPTIMIZE-ZORDERs (Morton rewrite of the reader's own files).
  * ``stream_mixture_plan`` — streaming twin of the certified
    ``mixture_plan_tokens``: per-source totals maintained by a streaming
    aggregation whose state survives a restart (two drains, one
    checkpoint), feeding the same epoch/cap arithmetic.
  * ``secondary_sort_export`` — repartition + sortWithinPartitions +
    Arrow-batched mapInPandas folding each key's rows into an
    order-SENSITIVE rolling fingerprint across batch boundaries; the
    hash certifies the ordered-export contract end-to-end.
  * ``rag_prep_pipeline`` — the chunker FEEDING the packer in one
    lineage (sliding 64/48 chunks → 512-token context bins by exclusive
    prefix sum): the composition contract on one hash.
  * ``stratified_split`` — deterministic 8/1/1 train/val/test via
    md5-cell arithmetic (``text.hash_split``), recomputed in SQL by the
    oracle; docs can never migrate between splits as the corpus grows.
  * ``embedding_quantize_error`` — symmetric per-vector int8
    quantization with its accuracy certificate (every dimension's
    reconstruction error within half a quantization step) on the hash.
  * ``vocab_oov_rate`` — per-doc out-of-vocabulary rate against the
    corpus's top-1000 token vocabulary (broadcast membership join).
  * ``heavy_hitters_cms`` — NEW operator module ``operators/sketch.py``:
    a Count-Min grid built by one explode + one combiner-friendly hash
    aggregate; top-10 exact counts next to their CMS estimates plus the
    over-estimate guarantee; the oracle rebuilds the identical
    md5-derived grid in SQL.
  * ``asof_interp_join`` — NEW operator ``asof.asof_join_interp``:
    linear interpolation of the right value at the left timestamp
    between bracketing rows (constant extrapolation at the edges),
    completing the as-of family backward/forward/nearest/interp.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.operators import dedup, similarity
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.workload import _t, fround, query
from h2outility_spark.workload_text import JACCARD_TAIL, MINHASH_K, mh_cte

# -- incremental near-dup: new batch vs existing corpus ------------------------

_BATCH_PRED_SQL = "doc_id % 5 = 0"  # the "newly ingested" slice

DEDUP_INCR_LSH_ORACLE = (
    "WITH "
    + mh_cte()
    + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh a JOIN mh b
        ON a.{_BATCH_PRED_SQL} AND NOT (b.{_BATCH_PRED_SQL})
       AND ("""
    + " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(MINHASH_K))
    + """)
    ),
"""
    + JACCARD_TAIL
)


@query(
    "dedup_incremental_lsh",
    oracle=DEDUP_INCR_LSH_ORACLE,
    description="incremental near-dup ingest: new batch MinHash-signed, probed against the corpus band index",
)
def q_dedup_incremental_lsh(spark, sf_dir):
    """Near-dup dedup for a daily ingest batch: sign ONLY the new slice,
    probe the existing corpus's banded MinHash index, verify candidates
    with exact 3-gram Jaccard ≥ 0.2. The corpus is never self-paired and
    never re-signed — per-batch cost is O(batch) + one hash join against
    the (stored, in production) band index. Oracle mirrors the banding +
    verification with the batch/corpus split stated as predicates."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    sigs_new = dedup.minhash_signatures(new, num_hashes=MINHASH_K)
    sigs_old = dedup.minhash_signatures(old, num_hashes=MINHASH_K)
    pairs = dedup.lsh_candidate_pairs_between(
        sigs_new, sigs_old, bands=[[i] for i in range(MINHASH_K)]
    )
    jac = dedup.jaccard_for_pairs(pairs, docs)
    return jac.filter(F.col("jaccard") >= 0.2).select(
        "id_a", "id_b", fround(F.col("jaccard"), 4).alias("jaccard")
    )


# -- cross-modal ensemble agreement ----------------------------------------------

_COS_SQL = (
    "list_inner_product(ea.v, eb.v) "
    "/ sqrt(list_inner_product(ea.v, ea.v) * list_inner_product(eb.v, eb.v))"
)

ENSEMBLE_AGREE_ORACLE = (
    "WITH "
    + mh_cte()
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND ("""
    + " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(MINHASH_K))
    + f""")
    ),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN dsh s1 ON s1.doc_id = c.id_a
      JOIN dsh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT i.id_a, i.id_b,
             floor((CAST(ni AS DOUBLE) / CAST(sa.sz + sb.sz - ni AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(ni AS DOUBLE) / CAST(sa.sz + sb.sz - ni AS DOUBLE) >= 0.2
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT jp.id_a, jp.id_b, jp.jaccard,
           floor(({_COS_SQL}) * 10000.0 + 0.5) / 10000.0 AS cos_sim,
           floor(({_COS_SQL}) * 10000.0 + 0.5) / 10000.0 >= 0.25 AS emb_confirms
    FROM jp
    JOIN e ea ON ea.vec_id = jp.id_a
    JOIN e eb ON eb.vec_id = jp.id_b
"""
)


@query(
    "neardup_ensemble_agree",
    oracle=ENSEMBLE_AGREE_ORACLE,
    description="cross-modal dedup policy: text near-dup pairs re-scored by embedding cosine, agreement flagged",
)
def q_neardup_ensemble_agree(spark, sf_dir):
    """Two-modality dedup scoring — the confirm-before-delete policy for
    destructive dedup: every TEXT-leg near-dup pair (MinHash bands →
    exact Jaccard ≥ 0.2) is re-scored on the EMBEDDING side with its
    exact cosine and flagged when the second modality confirms
    (cos ≥ 0.25). Both the cosine VALUES and the flags ride the hash, so
    the pair set is never vacuous even when no pair clears the
    confirmation bar at some scale. The cosine is computed only for the
    (tiny) verified text-pair set — two hash joins against the embedding
    table, never a second O(n²) pass. doc_id ≡ vec_id in the corpus."""
    from h2outility_spark.operators.similarity import as_double, dot

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH_K)
    text_pairs = dedup.jaccard_for_pairs(
        dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)]), docs
    ).filter(F.col("jaccard") >= 0.2)
    e = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb")) / F.sqrt(
        dot(F.col("va"), F.col("va")) * dot(F.col("vb"), F.col("vb"))
    )
    return (
        text_pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            fround(F.col("jaccard"), 4).alias("jaccard"),
            fround(cos, 4).alias("cos_sim"),
            # flag off the ROUNDED cosine: Spark and DuckDB sum the dot
            # product in different orders, so a raw cosine landing on the
            # threshold boundary could flip the boolean on one engine only
            # (ADVICE r9) — the 4-dp round collapses that ULP gap
            (fround(cos, 4) >= F.lit(0.25)).alias("emb_confirms"),
        )
    )


# -- weekly quality drift monitor -------------------------------------------------

QUALITY_DRIFT_ORACLE = """
WITH w AS (
  SELECT event_type, date_trunc('week', ts) AS week_start,
         quantile_cont(value, 0.50) AS p50
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start,
       floor(p50 * 10000.0 + 0.5) / 10000.0 AS p50,
       floor((p50 - lag(p50) OVER (PARTITION BY event_type ORDER BY week_start))
             * 10000.0 + 0.5) / 10000.0 AS drift
FROM w
"""


@query(
    "quality_drift_weekly",
    oracle=QUALITY_DRIFT_ORACLE,
    description="per-series weekly median with week-over-week drift delta (lag window)",
)
def q_quality_drift_weekly(spark, sf_dir):
    """Per-series weekly median and its week-over-week delta — the drift
    alarm a production corpus pipeline watches per source/series. One
    hash aggregate to the weekly grain, then a lag window over the
    (tiny) weekly frame; the first week's drift is NULL by contract.
    At 100 TB the weekly rollup is the only pass over the facts."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    # DuckDB's date_trunc('week', ts) yields DATE; Spark's yields
    # TIMESTAMP — cast to date so the grain (and the hash) agree
    w = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(F.expr("percentile(value, 0.50)").alias("__p50"))
    win = W.partitionBy("event_type").orderBy("week_start")
    return w.select(
        "event_type",
        "week_start",
        fround(F.col("__p50"), 4).alias("p50"),
        fround(F.col("__p50") - F.lag("__p50").over(win), 4).alias("drift"),
    )


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
    pinned = t.snapshot(v2).cache()

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


# -- streaming twin of the mixture token planner -----------------------------------

from h2outility_spark.operators.text import token_count  # noqa: E402
from h2outility_spark.workload import sql_round  # noqa: E402
from h2outility_spark.workload_lakehouse import scratch_dir  # noqa: E402
from h2outility_spark.workload_text import _N_TOKENS_SQL  # noqa: E402

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

    src = scratch_dir("h2ou_smix_src_")
    ckpt = scratch_dir("h2ou_smix_ckpt_") + "/ckpt"
    state_path = scratch_dir("h2ou_smix_state_") + "/totals"

    agg = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .load(src)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        )
    )

    def handle(batch_df, batch_id) -> None:
        # complete mode: every trigger emits the FULL current totals
        batch_df.write.mode("overwrite").parquet(state_path)

    def drain() -> None:
        from h2outility_spark.streaming.incremental import drain_available_now

        drain_available_now(
            spark,
            agg.writeStream.outputMode("complete")
            .foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

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


# -- secondary-sort export: repartition + sortWithinPartitions + mapInPandas -------

SECONDARY_SORT_ORACLE = """
WITH e AS (
  SELECT event_type, event_id, ts,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       md5(string_agg(CAST(event_id AS VARCHAR) || ':' || CAST(cents AS VARCHAR),
                      '|' ORDER BY ts, event_id)) AS fingerprint
FROM e GROUP BY event_type
"""


@query(
    "secondary_sort_export",
    oracle=SECONDARY_SORT_ORACLE,
    description="secondary-sort export: repartition + sortWithinPartitions + rolling per-key md5 across Arrow batches",
)
def q_secondary_sort_export(spark, sf_dir):
    """The classic secondary-sort consumer (NOTES r9 §6): all rows of a
    key delivered to ONE consumer IN event-time order, without a driver
    collect — ``repartition(key)`` co-locates each key,
    ``sortWithinPartitions(key, ts, id)`` orders it, and an Arrow-batched
    ``mapInPandas`` streams the partition, folding each key's rows into
    an incremental md5 ACROSS batch boundaries (a key's run can span
    Arrow batches; holding the concatenation in memory would be O(key),
    the rolling digest is O(1)). The per-key fingerprint is
    order-SENSITIVE, so the hash certifies that the sort actually held
    end-to-end — the contract every ordered export (S5's per-chunk CSV
    bodies, reference ``DatasetUtilities.py:247-288``) relies on. ONE
    shuffle; state is one digest per open key. NULL values are filtered
    on BOTH sides before the fingerprint: a nullable cents column would
    reach pandas as float64 (Arrow has no int-with-null without masked
    arrays), stringifying as '123.0'/'nan' where DuckDB CAST emits
    '123'/skip — engine-identical input requires non-null int64."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    parted = ev.repartition("event_type").sortWithinPartitions(
        "event_type", "ts", "event_id"
    )

    def fold(batches):
        import hashlib

        import pandas as pd

        state: dict = {}  # event_type -> [md5, n_rows, started]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            parts = pdf["event_id"].astype(str) + ":" + pdf["cents"].astype(str)
            for key, grp in parts.groupby(pdf["event_type"], sort=False):
                chunk = "|".join(grp)
                st = state.get(key)
                if st is None:
                    st = [hashlib.md5(), 0]
                    state[key] = st
                    st[0].update(chunk.encode())
                else:
                    st[0].update(("|" + chunk).encode())
                st[1] += len(grp)
        if state:
            yield pd.DataFrame(
                {
                    "event_type": list(state),
                    "n_events": [v[1] for v in state.values()],
                    "fingerprint": [v[0].hexdigest() for v in state.values()],
                }
            )

    return parted.mapInPandas(
        fold, "event_type string, n_events bigint, fingerprint string"
    )


# -- the RAG-prep pipeline: chunker feeding the packer on one hash ------------------

from h2outility_spark.workload_next4 import CHUNK_SLIDING_ORACLE  # noqa: E402

_RAG_BIN_TOKENS = 512

RAG_PREP_ORACLE = f"""
WITH chunks AS ({CHUNK_SLIDING_ORACLE}),
pre AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM chunks
)
SELECT CAST(prefix // {_RAG_BIN_TOKENS} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM pre GROUP BY 1
"""


@query(
    "rag_prep_pipeline",
    oracle=RAG_PREP_ORACLE,
    description="RAG prep: sliding 64/48 chunker feeding the 512-token packer in one lineage",
)
def q_rag_prep_pipeline(spark, sf_dir):
    """The actual RAG-prep pipeline on one hash: the certified sliding
    chunker (64-token windows every 48) FEEDS the certified packing rule
    (exclusive prefix sum into 512-token context bins) in a single
    lineage — Catalyst fuses the zero-shuffle chunker into the window
    stage, so composing the two operators adds no pass over the corpus.
    A drift in either operator OR in the composition contract (bin
    charging by first token, chunk order (doc_id, chunk_idx)) flips the
    hash. This is the SMALL-CORPUS form: the global-order window is the
    contract being certified (one packing order for the whole corpus).
    The 100 TB form exists as code, not prose — the staged
    ``rag_prep_sharded`` twin and ``pack_sequences(n_shards=k)`` scope
    the same window per md5 hash-shard (k parallel sorts of n/k)."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    chunks = T.chunk_sliding(docs, size=64, stride=48)
    w = W.orderBy("doc_id", "chunk_idx").rowsBetween(W.unboundedPreceding, -1)
    pre = chunks.withColumn("prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        pre.withColumn("bin_id", F.expr(f"prefix div {_RAG_BIN_TOKENS}"))
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# -- deterministic stratified train/val/test split ----------------------------------

STRATIFIED_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 10 AS cell,
         {_N_TOKENS_SQL} AS n_tokens
  FROM documents
)
SELECT source,
       CASE WHEN cell < 8 THEN 'train' WHEN cell < 9 THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM b GROUP BY 1, 2
"""


@query(
    "stratified_split",
    oracle=STRATIFIED_SPLIT_ORACLE,
    description="deterministic 8/1/1 train/val/test split via md5-cell arithmetic (text.hash_split)",
)
def q_stratified_split(spark, sf_dir):
    """Deterministic 8/1/1 train/val/test assignment per source
    (``text.hash_split``): md5(id) mod 10 cells, no RNG state, so a doc
    can NEVER migrate between splits as the corpus grows — the property
    that prevents silent train/test contamination across dataset
    versions. The oracle recomputes the md5 cell arithmetic in SQL, so
    the cell derivation itself is certified cross-engine (the
    hash_sample pattern). Narrow map + one rollup shuffle."""
    from h2outility_spark.operators.text import hash_split

    docs = hash_split(_t(spark, sf_dir, "documents"), train=8, val=1, test=1)
    return docs.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
    )


# -- int8 embedding quantization certificate ----------------------------------------

EMB_QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
  SELECT e.vec_id, max(abs(u.x)) AS maxabs, CAST(count(*) AS BIGINT) AS n_dims
  FROM e, unnest(e.v) u(x) GROUP BY e.vec_id
),
err AS (
  SELECT e.vec_id,
         max(abs(u.x - floor(u.x / (m.maxabs / 127.0) + 0.5) * (m.maxabs / 127.0))) AS max_err
  FROM e JOIN m ON m.vec_id = e.vec_id, unnest(e.v) u(x)
  WHERE m.maxabs > 0
  GROUP BY e.vec_id
)
SELECT m.vec_id, m.n_dims,
       CASE WHEN m.maxabs > 0
            THEN floor((m.maxabs / 127.0) * 1000000.0 + 0.5) / 1000000.0
       END AS scale,
       coalesce(err.max_err <= (m.maxabs / 127.0) * 0.5 + 1e-9, TRUE) AS quantizes_ok
FROM m LEFT JOIN err ON err.vec_id = m.vec_id
"""


@query(
    "embedding_quantize_error",
    oracle=EMB_QUANTIZE_ORACLE,
    description="per-vector int8 quantization with half-step reconstruction-error certificate on the hash",
)
def q_embedding_quantize_error(spark, sf_dir):
    """Symmetric per-vector int8 quantization with its accuracy
    certificate on the hash — the 4x embedding-storage compression every
    100 TB vector corpus runs before ANN indexing: scale = max|x|/127,
    code = floor(x/scale + 0.5), and the reconstruction error of every
    dimension must stay within half a quantization step. Both engines
    evaluate the identical elementwise IEEE expression shapes, so values
    (not just booleans) agree bit-for-bit; a zero vector has no scale and
    passes vacuously — BOTH engines emit NULL scale for maxabs = 0 (Spark
    via the ungated F.when, the oracle via CASE WHEN m.maxabs > 0), so the
    degenerate all-zero padding vector agrees on every column, not just
    quantizes_ok. Narrow map over the vectors, zero shuffles."""
    from h2outility_spark.operators.similarity import as_double

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    maxabs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    e = e.withColumn("__s", F.when(maxabs > 0, maxabs / F.lit(127.0)))
    s = F.col("__s")
    err = F.array_max(
        F.transform(F.col("v"), lambda x: F.abs(x - F.floor(x / s + F.lit(0.5)) * s))
    )
    return e.select(
        "vec_id",
        F.size("v").cast("bigint").alias("n_dims"),
        fround(s, 6).alias("scale"),
        F.coalesce(err <= s * F.lit(0.5) + F.lit(1e-9), F.lit(True)).alias("quantizes_ok"),
    )


# -- tokenizer vocabulary coverage (OOV rate) ----------------------------------------

from h2outility_spark.workload_text import toks_cte  # noqa: E402

_VOCAB_K = 1000

VOCAB_OOV_ORACLE = (
    "WITH "
    + toks_cte()
    + f""",
freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
vocab AS (
  SELECT w FROM (SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM freq)
  WHERE rk <= {_VOCAB_K}
),
per AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_oov,
       {sql_round("CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS oov_rate
FROM per
"""
)


@query(
    "vocab_oov_rate",
    oracle=VOCAB_OOV_ORACLE,
    description="per-doc OOV rate against the corpus top-1000 vocabulary (TakeOrdered + broadcast membership join)",
)
def q_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage per document: the corpus's top-1000
    tokens (count desc, token tie-break — ``vocab_topk``'s rule) become
    the vocabulary, and every doc reports its out-of-vocabulary token
    count and rate — the coverage diagnostic run before freezing a
    tokenizer on a new corpus. The vocab is top-k-bounded so it
    BROADCASTS to the membership join (never a shuffle of the token
    table against itself); the frequency pass is one combiner-friendly
    groupBy. At 100 TB: one agg + one broadcast join + one rollup."""
    from h2outility_spark.operators.text import shingles_expr

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = docs.select("doc_id", F.explode(shingles_expr("text", 1)).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # top-k via orderBy+limit → TakeOrderedAndProject (per-partition heaps
    # + one k-row merge), NOT a row_number window, whose single-partition
    # sort of the whole distinct-token table is the 100 TB bottleneck
    vocab = (
        freq.orderBy(F.desc("c"), "w")
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("__inv"))
    )
    per = toks.join(F.broadcast(vocab), "w", "left").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__inv").isNull(), 1).otherwise(0)).cast("bigint").alias("n_oov"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        fround(F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 6).alias(
            "oov_rate"
        ),
    )


# -- Count-Min heavy hitters with the over-estimate certificate ---------------------

_CMS_D, _CMS_W = 3, 256

HEAVY_HITTERS_ORACLE = f"""
WITH cells AS (
  SELECT j,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS bucket,
         count(*) AS c
  FROM events, range(0, {_CMS_D}) t(j)
  GROUP BY 1, 2
),
exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM events GROUP BY 1),
topk AS (
  SELECT user_id, exact_n
  FROM (SELECT *, row_number() OVER (ORDER BY exact_n DESC, user_id) AS rk FROM exact)
  WHERE rk <= 10
),
probes AS (
  SELECT t.user_id, t.exact_n, r.j,
         ('0x' || substr(md5(CAST(t.user_id AS VARCHAR) || ':' || CAST(r.j AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS bucket
  FROM topk t, range(0, {_CMS_D}) r(j)
),
est AS (
  SELECT p.user_id, min(coalesce(c.c, 0)) AS est_n
  FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY 1
)
SELECT t.user_id, t.exact_n, CAST(e.est_n AS BIGINT) AS est_n,
       e.est_n >= t.exact_n AS over_ok
FROM topk t JOIN est e ON e.user_id = t.user_id
"""


@query(
    "heavy_hitters_cms",
    oracle=HEAVY_HITTERS_ORACLE,
    description="Count-Min sketch heavy hitters: top-10 exact counts beside CMS estimates + over-estimate guarantee",
)
def q_heavy_hitters_cms(spark, sf_dir):
    """Count-Min heavy hitters (``operators/sketch.py``): the d×w grid is
    ONE explode + ONE combiner-friendly hash aggregate whose output is
    bounded (d·w cells) however large the stream, and grids merge
    cell-wise — the 100 TB frequent-items shape. The top-10 exact counts
    ride the hash next to their CMS estimates plus the sketch's defining
    over-estimate guarantee (est ≥ exact, violated by nothing but a
    broken hash/grid). The oracle rebuilds the exact same md5-derived
    grid in SQL, so the estimates must agree to the COUNT, not just the
    boolean."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators import sketch

    ev = _t(spark, sf_dir, "events").select("user_id")
    cms = sketch.count_min_table(ev, "user_id", depth=_CMS_D, width=_CMS_W)
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


# -- interpolating as-of join --------------------------------------------------------

ASOF_INTERP_ORACLE = """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click')
SELECT l.user_id, l.event_id, l.ts,
       b.ts AS ts_before, f.ts AS ts_after,
       CASE WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN 'interp'
            WHEN b.ts IS NOT NULL THEN 'backward'
            WHEN f.ts IS NOT NULL THEN 'forward' END AS method,
       floor((CASE
         WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN
           b.v + (f.v - b.v) * (CAST(epoch_us(l.ts) - epoch_us(b.ts) AS DOUBLE)
                                / CAST(epoch_us(f.ts) - epoch_us(b.ts) AS DOUBLE))
         WHEN b.ts IS NOT NULL THEN b.v
         ELSE f.v END) * 10000.0 + 0.5) / 10000.0 AS value_interp
FROM l
LEFT JOIN LATERAL (
  SELECT r.ts, r.value AS v FROM r
  WHERE r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) b ON TRUE
LEFT JOIN LATERAL (
  SELECT r.ts, r.value AS v FROM r
  WHERE r.user_id = l.user_id AND r.ts > l.ts
  ORDER BY r.ts ASC, r.event_id DESC LIMIT 1
) f ON TRUE
"""


@query(
    "asof_interp_join",
    oracle=ASOF_INTERP_ORACLE,
    description="interpolating as-of join: linear interpolation between bracketing rows, constant extrapolation at edges",
)
def q_asof_interp_join(spark, sf_dir):
    """The interpolating as-of join (``asof.asof_join_interp``): each
    purchase gets the click value LINEARLY INTERPOLATED at its timestamp
    between the bracketing clicks (constant extrapolation at the edges,
    labeled by ``method``) — completing the as-of family
    backward/forward/nearest/interp. Both bracket carries ride ONE
    shuffle on user_id; the oracle is a two-LATERAL bracket lookup with
    the identical integer-microsecond interpolation arithmetic, so the
    interpolated DOUBLES (4-dp) match bit-for-bit, not just the shape."""
    from h2outility_spark.operators import asof

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof.asof_join_interp(
        purch, clicks, ["user_id"], value_col="value", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "ts_before",
        "ts_after",
        "method",
        fround(F.col("value_interp"), 4).alias("value_interp"),
    )


#: name -> (fn, oracle) for a future promotion pass and the parity test.
STAGED6 = {
    "dedup_incremental_lsh": (q_dedup_incremental_lsh, DEDUP_INCR_LSH_ORACLE),
    "neardup_ensemble_agree": (q_neardup_ensemble_agree, ENSEMBLE_AGREE_ORACLE),
    "quality_drift_weekly": (q_quality_drift_weekly, QUALITY_DRIFT_ORACLE),
    "txtable_zorder_race": (q_txtable_zorder_race, ZORDER_RACE_ORACLE),
    "stream_mixture_plan": (q_stream_mixture_plan, STREAM_MIXTURE_ORACLE),
    "secondary_sort_export": (q_secondary_sort_export, SECONDARY_SORT_ORACLE),
    "rag_prep_pipeline": (q_rag_prep_pipeline, RAG_PREP_ORACLE),
    "stratified_split": (q_stratified_split, STRATIFIED_SPLIT_ORACLE),
    "embedding_quantize_error": (q_embedding_quantize_error, EMB_QUANTIZE_ORACLE),
    "vocab_oov_rate": (q_vocab_oov_rate, VOCAB_OOV_ORACLE),
    "heavy_hitters_cms": (q_heavy_hitters_cms, HEAVY_HITTERS_ORACLE),
    "asof_interp_join": (q_asof_interp_join, ASOF_INTERP_ORACLE),
}
