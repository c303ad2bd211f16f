"""Round-12 promotion of the round-11 staging area (same lifecycle as
``workload_next`` → ``workload_next6``): all 12 pairs were staged
tri-scale parity-green in round 11 and wrapped with ``@query`` in round
12 (VERDICT r11 directive 1), entering the registry and the checked
window together.

Each pair remains parity-tested in ``tests/test_workload_next.py``
(STAGED7) under the driver's comparison discipline at sf0.001 AND sf0.01.

Coverage targets:
  * ``jsonl_roundtrip`` — JSON Lines, THE training-data interchange
    format, as a full write→read fidelity roundtrip: microsecond
    timestamps (explicit timestampFormat, Spark's default truncates),
    full-precision doubles (Jackson shortest-round-trip repr), and a
    JSON-ish string column whose quotes/braces must survive the
    escaping. The oracle restates the source table — any writer/reader
    loss flips the hash. (Reference parity: the reference's CSV/XML/SQL
    export family, same roundtrip discipline as the certified
    ``export_rows_roundtrip``.)
  * ``stream_heavy_hitters`` — the Count-Min grid maintained per
    micro-batch by CELL-WISE MERGE (union + re-aggregate of the shard
    grids, the mergeability law ``test_count_min_overestimates_and_
    merges`` pins): two drains through one checkpoint, final grid
    queried for the top-10 exact heavy hitters. The streamed-and-merged
    grid must equal the one-shot grid bit-for-bit, which the shared
    oracle (same as ``heavy_hitters_cms``) enforces.
  * ``bm25_topk_docs`` — BM25 retrieval scoring (k1=1.2, b=0.75,
    Lucene's +1 idf) of every document against the corpus's own top-3
    tokens (derived, so never vacuous), top-20 by the 6-dp-ROUNDED
    score with doc_id tie-break — the ranked-retrieval sibling of the
    certified tf-idf, and the lexical half of a RAG retriever next to
    ``hybrid_search_knn``.
  * ``late_data_quarantine`` — the late-data policy append-mode
    streaming cannot express: ``foreachBatch`` owns the watermark and
    ROUTES stragglers to a quarantine sink instead of dropping them;
    every row rides the hash with its route (conservation invariant).
  * ``txtable_clone_divergence`` — two-way clone isolation: source and
    hard-link fork BOTH diverge (the source also compacts, rewriting
    files the fork still links), both final states on one hash.
  * ``histogram_quantile_sketch`` — the third sketch family (after
    HLL++ and Count-Min): a 128-bin histogram estimates the discrete
    median with the PROVABLE |est − p50| ≤ bin-width bound on the hash;
    shared-edge histograms merge cell-wise across shards like the CMS
    grid.
  * ``qc_robust_mad`` — Iglewicz-Hoaglin modified z-score (median/MAD)
    per series: the outlier flag the outlier itself cannot drag, with a
    mirrored MAD=0 degeneracy fallback; two broadcast-back grouped
    medians.
  * ``stream_jsonl_ingest`` — the drop-directory shape: tail a JSONL
    directory as a stream (pinned schema + µs timestampFormat) into a
    running per-type aggregate surviving a restart; composes the JSONL
    fidelity and streaming-state certificates.
  * ``rag_prep_sharded`` — the 100 TB form of the RAG-prep pipeline:
    the packing window scoped per md5 hash-shard (k parallel sorts of
    n/k instead of one global sort), shard key recomputed in SQL on
    the hash.
  * ``txtable_branch_merge_back`` — the full named-branch workflow
    (NEW TxTable API branch/branches/branch_table/merge_from_branch):
    branch, experiment, merge the branch's net CDF delta back into an
    independently-advanced main in one commit.
  * ``stream_stratified_ingest`` — the stratified split at ingest:
    drop-directory stream hash-assigned per batch into a running
    per-(source, split) census surviving a restart; shares the
    certified ``stratified_split`` oracle because content-hash
    assignment is arrival-order invariant.
  * ``weekly_pctl_rollup`` — the sketch-ROLLUP pattern: per-day
    histograms with SHARED global bin edges merged cell-wise into
    weekly grids (never rescanning rows), per-week exact-vs-estimate
    median certificate with the |est − p50| ≤ bin-width bound.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.streaming.incremental import drain_available_now
from h2outility_spark.workload import DV_CTE, _dv, _t, fround, query, sql_round
from h2outility_spark.workload_lakehouse import scratch_dir
from h2outility_spark.workload_next6 import _CMS_D, _CMS_W, HEAVY_HITTERS_ORACLE
from h2outility_spark.workload_text import toks_cte

# -- JSON Lines write -> read fidelity roundtrip -------------------------------------

_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

JSONL_ROUNDTRIP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


@query(
    "jsonl_roundtrip",
    oracle=JSONL_ROUNDTRIP_ORACLE,
    description="S5/S6-family JSONL interchange roundtrip: µs timestamps, full-precision doubles, escaped JSON strings",
)
def q_jsonl_roundtrip(spark, sf_dir):
    """Distributed JSONL export + schema-pinned read-back on one hash.
    The three classic JSONL loss modes are all on the hash: (a) Spark's
    default JSON timestampFormat truncates to millis — the explicit
    SSSSSS format keeps microseconds lossless (the CSV sink's r9
    lesson); (b) doubles ride Jackson's shortest-round-trip repr, so
    read-back is bit-exact; (c) ``props`` holds a JSON-ish string whose
    quotes must survive escape→unescape. Multi-part write (one file per
    partition), read back with the EXPLICIT schema — inference is the
    other classic JSONL corruption (longs→doubles) and pinning the
    schema is the contract a 100 TB ingest runs with."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = os.path.join(scratch_dir("h2ou_jsonl_"), "events_jsonl")
    (
        ev.write.mode("overwrite")
        .option("timestampFormat", _JSON_TS_FMT)
        .json(out)
    )
    return (
        spark.read.schema(ev.schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .json(out)
    )


# -- streaming Count-Min: per-batch grid merge ---------------------------------------

STREAM_CMS_ORACLE = HEAVY_HITTERS_ORACLE


def make_cms_handler(spark, state_dir, ctl, key_col="user_id"):
    """foreachBatch handler advancing a Count-Min grid by cell-wise merge,
    REPLAY-SAFE (foreachBatch is at-least-once): state is keyed by
    batch_id, committed by a marker file written AFTER the grid parquet
    completes. A replayed batch_id returns without touching the grid —
    merging the same rows twice would double-count every cell. A crash
    between the grid write and the marker replays into a deterministic
    ``mode("overwrite")`` of the same path. Module-level so the replay
    unit test can re-invoke it with a repeated batch_id directly."""
    from h2outility_spark.operators import sketch

    def _applied_ids() -> list:
        return sorted(
            int(n.rsplit("_", 1)[1])
            for n in os.listdir(state_dir)
            if n.startswith("applied_")
        )

    def handle(batch_df, batch_id) -> None:
        marker = os.path.join(state_dir, f"applied_{batch_id}")
        if os.path.exists(marker):
            return
        grid = sketch.count_min_table(batch_df, key_col, depth=_CMS_D, width=_CMS_W)
        prev_ids = _applied_ids()
        if prev_ids:
            prev = read_parquet(spark, os.path.join(state_dir, f"grid_{prev_ids[-1]}"))
            grid = (
                grid.unionByName(prev)
                .groupBy("j", "bucket")
                .agg(F.sum("c").alias("c"))
            )
        path = os.path.join(state_dir, f"grid_{batch_id}")
        grid.write.mode("overwrite").parquet(path)
        with open(marker, "w"):
            pass
        ctl["grid_path"] = path
        ctl["n_batches"] += 1

    return handle


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

    src = scratch_dir("h2ou_scms_src_")
    ckpt = scratch_dir("h2ou_scms_ckpt_") + "/ckpt"
    state_dir = scratch_dir("h2ou_scms_state_")
    ctl: dict = {"grid_path": None, "n_batches": 0}
    handle = make_cms_handler(spark, state_dir, ctl, key_col="user_id")

    def drain() -> None:
        drain_available_now(
            spark,
            spark.readStream.schema(ev.schema)
            .format("parquet")
            .load(src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert ctl["n_batches"] == 2, ctl

    from pyspark.sql import Window as W

    cms = read_parquet(spark, ctl["grid_path"])
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


# -- BM25 ranked retrieval ------------------------------------------------------------

_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20

BM25_ORACLE = (
    "WITH "
    + toks_cte()
    + f""",
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
qterms AS (SELECT w FROM freq ORDER BY c DESC, w LIMIT 3),
tf AS (
  SELECT t.doc_id, t.w, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN qterms q ON t.w = q.w
  GROUP BY 1, 2
),
dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         sum(
           ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
           / (CAST(tf.tf AS DOUBLE)
              + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * CAST(dl.dl AS DOUBLE) / s.avgdl))
         ) AS score
  FROM tf
  JOIN dfreq d ON d.w = tf.w
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, {sql_round("score", 6)} AS bm25
FROM scored
ORDER BY {sql_round("score", 6)} DESC, doc_id
LIMIT {_BM25_TOPK}
"""
)


@query(
    "bm25_topk_docs",
    oracle=BM25_ORACLE,
    description="BM25 (k1=1.2, b=0.75, Lucene +1 idf) top-20 docs against the corpus's own top-3 tokens",
)
def q_bm25_topk_docs(spark, sf_dir):
    """BM25 ranked retrieval (k1=1.2, b=0.75, Lucene +1 idf) against the
    corpus's own top-3 tokens — the query derives from the data, so the
    pair can never go vacuous at any scale (the r9 empty-intersection
    lesson). Ranking is on the 6-dp-ROUNDED score with doc_id tie-break
    (the certified tf-idf discipline: ln() ULP drift becomes exact ties
    instead of reorderings). Every table in the plan is either
    combiner-friendly (dl, tf, df) or top-k-bounded (qterms via
    TakeOrdered, stats a 1-row broadcast); the lexical half of a RAG
    retriever next to ``hybrid_search_knn``'s fusion."""
    from h2outility_spark.operators.text import shingles_expr

    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = docs.select("doc_id", F.explode(shingles_expr("text", 1)).alias("w"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    qterms = freq.orderBy(F.desc("c"), "w").limit(3).select("w")
    tf = (
        toks.join(F.broadcast(qterms), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (F.col("tf").cast("double") * (k1 + F.lit(1.0))) / (
        F.col("tf").cast("double")
        + k1 * (F.lit(1.0) - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    return (
        scored.select("doc_id", fround(F.col("score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOPK)
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


def make_quarantine_handler(main_dir, quar_dir, meta_dir, ctl):
    """foreachBatch handler routing below-watermark rows to quarantine,
    REPLAY-SAFE (foreachBatch is at-least-once): each batch routes into
    batch_id-keyed subdirectories with ``mode("overwrite")`` and commits
    via a marker file written last. A replayed batch_id returns
    immediately — re-routing against the ALREADY-ADVANCED watermark would
    reroute the batch's own rows as late, and a plain append would land
    every row twice. The watermark itself is RESTART-SAFE: each marker
    records the post-batch watermark, and a fresh handler (new process,
    empty ``ctl``) rehydrates the max over committed markers — without
    this, a restart would route genuinely-late stragglers as on-time
    against a NULL watermark. Module-level so the replay/restart unit
    tests can re-invoke it with a repeated batch_id directly."""
    import datetime

    def _load_wm():
        wms = []
        for n in os.listdir(meta_dir):
            if not n.startswith("applied_"):
                continue
            with open(os.path.join(meta_dir, n)) as f:
                text = f.read().strip()
            if text:
                wms.append(datetime.datetime.fromisoformat(text))
        return max(wms) if wms else None

    if ctl.get("wm") is None:
        ctl["wm"] = _load_wm()

    def handle(batch_df, batch_id) -> None:
        marker = os.path.join(meta_dir, f"applied_{batch_id}")
        if os.path.exists(marker):
            return
        wm = ctl["wm"]
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
        # Commit ORDER matters: the marker (carrying the post-batch
        # watermark) lands atomically via tmp+rename BEFORE any in-memory
        # state mutates. A marker-write failure therefore leaves ctl
        # untouched, so an in-process retry of the same batch re-routes
        # against the ORIGINAL watermark — not the advanced one — and a
        # crash mid-write can never leave a truncated timestamp for
        # _load_wm to choke on at restart.
        # dot-prefixed so an orphaned temp never matches _load_wm's
        # "applied_" scan
        tmp = os.path.join(meta_dir, f".tmp_applied_{batch_id}")
        with open(tmp, "w") as f:
            if new_wm is not None:
                f.write(new_wm.isoformat())
        os.replace(tmp, marker)
        ctl["wm"] = new_wm
        ctl["n_batches"] += 1

    return handle


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

    src = scratch_dir("h2ou_late_src_")
    ckpt = scratch_dir("h2ou_late_ckpt_") + "/ckpt"
    main_dir = scratch_dir("h2ou_late_main_")
    quar_dir = scratch_dir("h2ou_late_quar_")
    meta_dir = scratch_dir("h2ou_late_meta_")
    ctl: dict = {"wm": None, "n_batches": 0}
    handle = make_quarantine_handler(main_dir, quar_dir, meta_dir, ctl)

    def drain() -> None:
        drain_available_now(
            spark,
            spark.readStream.schema(ev.schema)
            .format("parquet")
            .load(src)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()
    assert ctl["n_batches"] == 2, ctl

    main = spark.read.schema(ev.schema).parquet(
        os.path.join(main_dir, "batch_*")
    ).withColumn("route", F.lit("ontime"))
    quar = spark.read.schema(ev.schema).parquet(
        os.path.join(quar_dir, "batch_*")
    ).withColumn("route", F.lit("late"))
    return main.unionByName(quar)


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


# -- histogram quantile sketch with a provable error bound -----------------------------

_HQ_BINS = 128

HIST_QUANTILE_ORACLE = f"""
WITH src AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
g AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx,
         CAST(count(*) AS BIGINT) AS n,
         quantile_disc(value, 0.5) AS p50d
  FROM src GROUP BY 1
),
b AS (
  SELECT e.event_type,
         CASE WHEN g.mx > g.mn
              THEN least({_HQ_BINS - 1},
                         CAST(floor((e.value - g.mn) / ((g.mx - g.mn) / {_HQ_BINS}.0)) AS BIGINT))
              ELSE 0 END AS bin
  FROM src e JOIN g ON g.event_type = e.event_type
),
h AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
  FROM h
),
sel AS (
  SELECT c.event_type, min(c.bin) AS bin50
  FROM cum c JOIN g ON g.event_type = c.event_type
  WHERE c.cum >= 0.5 * g.n
  GROUP BY 1
)
SELECT g.event_type, g.n,
       {sql_round("g.p50d", 4)} AS p50_exact,
       {sql_round("g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_HQ_BINS) + ".0)", 4)} AS p50_est,
       {sql_round("abs((g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_HQ_BINS) + ".0)) - g.p50d)", 6)}
         <= {sql_round("(g.mx - g.mn) / " + str(_HQ_BINS) + ".0", 6)} + 1e-9 AS within_bin
FROM g JOIN sel ON sel.event_type = g.event_type
"""


@query(
    "histogram_quantile_sketch",
    oracle=HIST_QUANTILE_ORACLE,
    description="128-bin mergeable histogram median with the provable |est-p50| <= bin-width certificate",
)
def q_histogram_quantile_sketch(spark, sf_dir):
    """The third member of the sketch family (HLL++ distinct, Count-Min
    frequency, now quantiles): a fixed-width {bins}-bin histogram per
    group estimates the DISCRETE median as the upper edge of the first
    bin whose cumulative count crosses n/2, with the PROVABLE error
    bound |est − p50| ≤ one bin width — the smallest value whose
    cume_dist ≥ 0.5 lives in exactly that bin, so the bound is a
    theorem, not a tuning claim. The certificate (exact p50 via
    percentile_disc / quantile_disc, identical lower-median semantics
    both engines — probed: n=2 → lower, n=4 → lower) rides the hash
    next to the estimate. Shape: two hash aggregates + a bins-bounded
    window; histograms with shared edges MERGE cell-wise across
    shards/days exactly like the CMS grid. Threshold compared on
    ROUNDED values on both engines (the r9 boundary lesson)."""
    from pyspark.sql import Window as W

    # NULL values filtered on both sides (same bin-NULL window-ordering
    # hazard as weekly_pctl_rollup — Spark NULLs-first vs DuckDB NULLs-last)
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    g = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50d"),
    )
    j = ev.join(F.broadcast(g), "event_type")
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS))
    bin_ = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(F.lit(_HQ_BINS - 1), F.floor((F.col("value") - F.col("mn")) / width)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    hist = j.groupBy("event_type", bin_.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
    cum_w = W.partitionBy("event_type").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select("event_type", "bin", F.sum("c").over(cum_w).alias("cum"))
    sel = (
        cum.join(F.broadcast(g.select("event_type", "n")), "event_type")
        .filter(F.col("cum") >= F.lit(0.5) * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("bin").alias("bin50"))
    )
    out = g.join(sel, "event_type")
    w_ = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS))
    est = F.col("mn") + (F.col("bin50") + 1) * w_
    return out.select(
        "event_type",
        "n",
        fround(F.col("p50d"), 4).alias("p50_exact"),
        fround(est, 4).alias("p50_est"),
        (fround(F.abs(est - F.col("p50d")), 6) <= fround(w_, 6) + F.lit(1e-9)).alias(
            "within_bin"
        ),
    )


# -- MAD robust outlier detection ------------------------------------------------------

_MAD_K = 1.4826  # consistency constant: MAD ~ sigma for a normal population
_MAD_Z = 3.5     # the Iglewicz-Hoaglin recommended cut

QC_ROBUST_MAD_ORACLE = (
    DV_CTE
    + f""",
med AS (
  SELECT SiteID, VariableCode, quantile_cont(DataValue, 0.5) AS med
  FROM dv GROUP BY 1, 2
),
j AS (
  SELECT dv.ValueID, dv.SiteID, dv.VariableCode, dv.DataValue, m.med
  FROM dv JOIN med m ON m.SiteID = dv.SiteID AND m.VariableCode = dv.VariableCode
),
mad AS (
  SELECT SiteID, VariableCode, quantile_cont(abs(DataValue - med), 0.5) AS mad
  FROM j GROUP BY 1, 2
)
SELECT j.ValueID,
       CASE WHEN d.mad > 0
            THEN {sql_round(f"abs(j.DataValue - j.med) / ({_MAD_K} * d.mad)", 4)} END AS robust_z,
       coalesce(
         CASE WHEN d.mad > 0
              THEN {sql_round(f"abs(j.DataValue - j.med) / ({_MAD_K} * d.mad)", 4)} END > {_MAD_Z},
         abs(j.DataValue - j.med) > 0
       ) AS is_outlier
FROM j JOIN mad d ON d.SiteID = j.SiteID AND d.VariableCode = j.VariableCode
"""
)


@query(
    "qc_robust_mad",
    oracle=QC_ROBUST_MAD_ORACLE,
    description="W2-family robust outliers: Iglewicz-Hoaglin modified z-score (median/MAD) per series",
)
def q_qc_robust_mad(spark, sf_dir):
    """Robust per-series outlier detection by the MAD rule (Iglewicz &
    Hoaglin's modified z-score: |x − median| / (1.4826·MAD) > 3.5) — the
    QC flag that survives the very spikes it hunts, unlike the certified
    mean/stddev ``qc_rolling_zscore`` whose statistics the outlier
    itself drags. Two exact grouped medians (series median, then MAD on
    the residuals) each broadcast back onto the fact stream — the
    winsorize/grouped-percentile scale shape doubled. Degenerate series
    (MAD = 0, over half the points identical) fall back to flagging any
    deviation from the median; the z itself is NULL there, mirrored by
    the oracle. Flag compared on the ROUNDED z on both engines."""
    dv = _dv(spark, sf_dir).select("ValueID", "SiteID", "VariableCode", "DataValue")
    keys = ["SiteID", "VariableCode"]
    med = dv.groupBy(*keys).agg(F.expr("percentile(DataValue, 0.5)").alias("med"))
    j = dv.join(F.broadcast(med), keys)
    mad = j.groupBy(*keys).agg(
        F.expr("percentile(abs(DataValue - med), 0.5)").alias("mad")
    )
    out = j.join(F.broadcast(mad), keys)
    rz = F.when(
        F.col("mad") > 0,
        fround(
            F.abs(F.col("DataValue") - F.col("med")) / (F.lit(_MAD_K) * F.col("mad")), 4
        ),
    )
    return out.select(
        "ValueID",
        rz.alias("robust_z"),
        F.coalesce(
            rz > F.lit(_MAD_Z),
            F.abs(F.col("DataValue") - F.col("med")) > F.lit(0.0),
        ).alias("is_outlier"),
    )


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
    running per-type aggregate across restarts. Composes the two STAGED7
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

    def handle(batch_df, batch_id) -> None:
        batch_df.write.mode("overwrite").parquet(state_path)

    def drain() -> None:
        drain_available_now(
            spark,
            agg.writeStream.outputMode("complete")
            .foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )

    (
        b1.coalesce(1)
        .write.mode("append")
        .option("timestampFormat", _JSON_TS_FMT)
        .json(src)
    )
    drain()
    (
        b2.coalesce(1)
        .write.mode("append")
        .option("timestampFormat", _JSON_TS_FMT)
        .json(src)
    )
    drain()

    return read_parquet(spark, state_path).select(
        "event_type", "n_events", "first_ts", "last_ts", "total_cents"
    )


# -- shard-local RAG prep: the 100 TB form of the packer -----------------------------

from h2outility_spark.workload_next4 import CHUNK_SLIDING_ORACLE  # noqa: E402

_RAG_SHARDS, _RAG_SHARD_BIN_TOKENS = 4, 512

RAG_SHARDED_ORACLE = f"""
WITH chunks AS ({CHUNK_SLIDING_ORACLE}),
sh AS (
  SELECT doc_id, chunk_idx, n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_RAG_SHARDS}
           AS shard
  FROM chunks
),
pre AS (
  SELECT shard, doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
           ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM sh
)
SELECT shard, CAST(prefix // {_RAG_SHARD_BIN_TOKENS} AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM pre GROUP BY 1, 2
"""


@query(
    "rag_prep_sharded",
    oracle=RAG_SHARDED_ORACLE,
    description="RAG prep with the packing window scoped per md5 hash-shard — k parallel sorts of n/k",
)
def q_rag_prep_sharded(spark, sf_dir):
    """The shard-local form of the RAG-prep pipeline (VERDICT r10 #2) —
    the shape that actually runs at 100 TB: the certified sliding chunker
    feeds the packer exactly as in the promoted ``rag_prep_pipeline``,
    but the packing window is SCOPED PER HASH-SHARD
    (``partitionBy(shard)`` over an md5-cell shard key, the same
    deterministic arithmetic as ``text.hash_split``), so the prefix sum
    runs as k parallel sorts of n/k chunks instead of one global
    single-partition sort. The shard key rides the hash: the oracle
    recomputes the md5-cell assignment in SQL, so a drift in sharding,
    chunking, packing, or their composition flips the certificate.
    Docs never straddle shards (sharded by doc_id), so per-shard packing
    is self-contained — the property that makes the k streams
    independently resumable in a real pipeline."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    chunks = T.chunk_sliding(docs, size=64, stride=48).withColumn(
        "shard", F.expr(T.shard_expr_sql("doc_id", _RAG_SHARDS))
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pre = chunks.withColumn("prefix", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        pre.withColumn("bin_id", F.expr(f"prefix div {_RAG_SHARD_BIN_TOKENS}"))
        .groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


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


# -- streaming stratified-split ingest -------------------------------------------------

from h2outility_spark.workload_next6 import STRATIFIED_SPLIT_ORACLE  # noqa: E402

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

    src = scratch_dir("h2ou_strat_src_")
    ckpt = scratch_dir("h2ou_strat_ckpt_") + "/ckpt"
    state_path = scratch_dir("h2ou_strat_state_") + "/census"

    stream = spark.readStream.schema(docs.schema).format("parquet").load(src)
    agg = (
        hash_split(stream, train=8, val=1, test=1)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        )
    )

    def handle(batch_df, batch_id) -> None:
        batch_df.write.mode("overwrite").parquet(state_path)

    def drain() -> None:
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

    return read_parquet(spark, state_path).select(
        "source", "split", "n_docs", "total_tokens"
    )


# -- weekly percentile rollup: daily sketches merged, never rescanned ------------------

_WPR_BINS = 128

WEEKLY_PCTL_ORACLE = f"""
WITH src AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
g AS (
  SELECT min(value) AS mn, max(value) AS mx FROM src
),
wk AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         value
  FROM src
),
b AS (
  SELECT wk.week, wk.day,
         CASE WHEN g.mx > g.mn
              THEN least({_WPR_BINS - 1},
                         CAST(floor((wk.value - g.mn) / ((g.mx - g.mn) / {_WPR_BINS}.0)) AS BIGINT))
              ELSE 0 END AS bin
  FROM wk, g
),
daily AS (SELECT week, day, bin, count(*) AS c FROM b GROUP BY 1, 2, 3),
weekly AS (SELECT week, bin, CAST(sum(c) AS BIGINT) AS c FROM daily GROUP BY 1, 2),
stats AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(count(*) AS BIGINT) AS n,
         quantile_disc(value, 0.5) AS p50d
  FROM src GROUP BY 1
),
cum AS (
  SELECT week, bin,
         CAST(sum(c) OVER (PARTITION BY week ORDER BY bin) AS BIGINT) AS cum
  FROM weekly
),
sel AS (
  SELECT c.week, min(c.bin) AS bin50
  FROM cum c JOIN stats s ON s.week = c.week
  WHERE c.cum >= 0.5 * s.n
  GROUP BY 1
)
SELECT s.week, s.n,
       {sql_round("s.p50d", 4)} AS p50_exact,
       {sql_round("g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_WPR_BINS) + ".0)", 4)} AS p50_est,
       {sql_round("abs((g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_WPR_BINS) + ".0)) - s.p50d)", 6)}
         <= {sql_round("(g.mx - g.mn) / " + str(_WPR_BINS) + ".0", 6)} + 1e-9 AS within_bin
FROM stats s JOIN sel ON sel.week = s.week, g
"""


@query(
    "weekly_pctl_rollup",
    oracle=WEEKLY_PCTL_ORACLE,
    description="weekly exact p50 next to the shared-edge histogram estimate with the within-bin certificate",
)
def q_weekly_pctl_rollup(spark, sf_dir):
    """The sketch-ROLLUP pattern the per-group histogram certificate
    (``histogram_quantile_sketch``) stops short of: per-DAY histograms
    are built once and the WEEKLY estimate comes from merging the daily
    grids CELL-WISE (group day→week, sum counts) — never rescanning the
    raw rows, which is how a 100 TB pipeline serves any rollup grain
    from daily pre-aggregates. Mergeability requires SHARED bin edges,
    so the edges come from a one-row global min/max broadcast (the BNLJ
    is 1 row by construction, allowlisted). The certificate per week:
    exact p50 (percentile_disc, lower-median semantics probed identical
    in both engines) vs the merged-grid estimate, with the provable
    |est − p50| ≤ bin-width bound on the hash. The oracle rebuilds the
    daily→weekly merge itself, so a rollup that rescanned rows but got
    different cells, or merged wrong, flips the hash."""
    from pyspark.sql import Window as W

    # NULL values are filtered on BOTH sides: a NULL lands in a NULL bin,
    # and the engines disagree on NULL placement in the cumulative window
    # ORDER BY (Spark sorts NULLs first, DuckDB last) — a latent hash flip
    # on nullable data even though exact percentiles ignore NULLs anyway.
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "value")
    )
    g = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    j = ev.join(F.broadcast(g))  # 1-row global-edges broadcast
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_WPR_BINS))
    bin_ = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(F.lit(_WPR_BINS - 1), F.floor((F.col("value") - F.col("mn")) / width)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    week = F.to_date(F.date_trunc("week", F.col("ts"))).alias("week")
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    daily = j.groupBy(week, day, bin_.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
    weekly = daily.groupBy("week", "bin").agg(F.sum("c").alias("c"))
    stats = ev.groupBy(week).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50d"),
    )
    cum_w = W.partitionBy("week").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = weekly.select("week", "bin", F.sum("c").over(cum_w).alias("cum"))
    sel = (
        cum.join(F.broadcast(stats.select("week", "n")), "week")
        .filter(F.col("cum") >= F.lit(0.5) * F.col("n"))
        .groupBy("week")
        .agg(F.min("bin").alias("bin50"))
    )
    out = stats.join(sel, "week").join(F.broadcast(g))
    w_ = (F.col("mx") - F.col("mn")) / F.lit(float(_WPR_BINS))
    est = F.col("mn") + (F.col("bin50") + 1) * w_
    return out.select(
        "week",
        "n",
        fround(F.col("p50d"), 4).alias("p50_exact"),
        fround(est, 4).alias("p50_est"),
        (fround(F.abs(est - F.col("p50d")), 6) <= fround(w_, 6) + F.lit(1e-9)).alias(
            "within_bin"
        ),
    )


#: name -> (fn, oracle) for a future promotion pass and the parity test.
STAGED7 = {
    "rag_prep_sharded": (q_rag_prep_sharded, RAG_SHARDED_ORACLE),
    "txtable_branch_merge_back": (q_txtable_branch_merge_back, TXBRANCH_ORACLE),
    "stream_stratified_ingest": (q_stream_stratified_ingest, STREAM_STRAT_ORACLE),
    "weekly_pctl_rollup": (q_weekly_pctl_rollup, WEEKLY_PCTL_ORACLE),
    "jsonl_roundtrip": (q_jsonl_roundtrip, JSONL_ROUNDTRIP_ORACLE),
    "stream_heavy_hitters": (q_stream_heavy_hitters, STREAM_CMS_ORACLE),
    "bm25_topk_docs": (q_bm25_topk_docs, BM25_ORACLE),
    "late_data_quarantine": (q_late_data_quarantine, LATE_QUARANTINE_ORACLE),
    "txtable_clone_divergence": (q_txtable_clone_divergence, CLONE_DIVERGENCE_ORACLE),
    "histogram_quantile_sketch": (q_histogram_quantile_sketch, HIST_QUANTILE_ORACLE),
    "qc_robust_mad": (q_qc_robust_mad, QC_ROBUST_MAD_ORACLE),
    "stream_jsonl_ingest": (q_stream_jsonl_ingest, STREAM_JSONL_ORACLE),
}
