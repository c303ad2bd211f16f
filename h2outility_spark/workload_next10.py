"""Round-15 registry staging area (same lifecycle as ``workload_next`` →
``workload_next9``): fully-formed (PySpark fn, DuckDB oracle) pairs that
cannot enter the registry yet — the round-14 rotation consumes the
``workload_next9`` pairs first. Deliberately NOT decorated with
``@query``; a future rotation wraps them.

Each pair is parity-tested in ``tests/test_workload_next.py`` (STAGED10)
under the driver's comparison discipline at sf0.001 AND sf0.01.

Coverage targets (NOTES_NEXT_ROUND r12 §5 seeds + the round-13 feature):
  * ``unigram_lm_salted`` — the NOTES-r12 seed: the unigram-LM join
    (tokens ⋈ vocabulary counts) is THE skewed join of a text pipeline —
    at 100 TB a handful of stopwords carry a double-digit share of all
    token rows, so the count-table join hot-spots a few reducers. The
    salted form spreads every big-side row across R salt values derived
    from its doc_id and replicates the (small) count table ×R, so each
    (token, salt) cell holds ~1/R of a heavy token's rows. The salt
    never escapes the plan: per-source stats equal the plain join, which
    is exactly what the oracle computes.
  * ``bigram_logprob_docs`` — one rung up the LM ladder from
    ``unigram_logprob_buckets``: per-document mean ln p(w_i | w_{i-1})
    under the corpus's own add-1-smoothed bigram model. Bigrams come
    from the 2-shingle expression (inside codegen); counts are two hash
    aggregates; the vocabulary size is a 1-row broadcast. The oracle
    rebuilds the bigrams with toks-CTE position joins — same multiset,
    engine-identical integer counts, score rounded at 4 dp before the
    hash.
  * ``semantic_dedup_parallel`` — the NOTES-r12 seed: SemDeDup at k=16
    with NO driver-side centroid state — seeds, the Lloyd update and
    both assignments stay DataFrames end to end (broadcast-join
    assignment + one min_by-style hash aggregate per step, the shape
    that survives k=65 536 on a cluster where collect()-based centroids
    cannot). Assignment argmin is min(struct(dist, cluster)) — partial
    (map-side) min, no window sort over the n×k exploded set.
  * ``stream_cdc_bounded`` — the round-13 ``maxVersionsPerBatch``
    admission control certified by the driver gate (the reference's
    chunked-fetch intent — QUERY_CHUNK_SIZE at src/Common.py:59 and the
    chunk_size fetch path at
    src/GAMUTRawData/odmservices/series_service.py:388,437-439 —
    upgraded to streaming admission control): a replica misses
    three source commits and catches up under a 2-versions-per-batch
    cap — the backlog drains in ⌈3/2⌉ = 2 micro-batches (plus the one
    bootstrap batch = 3 applied batches total, restated as a literal by
    the oracle) and the final replica equals the telescoped-drain state
    (bounding splits work, never changes it).
  * ``hll_registers_txtable`` — sketch state AS a lakehouse table: per-
    week HLL register grids from three ingest batches are merged into a
    TxTable keyed (week, bucket), each ingest upserting ONLY the cells
    its batch raised (O(changed cells), the register-grid analog of the
    pruned MERGE). Serving reads the STORED grid alone; the oracle
    rebuilds registers from all events directly — equality IS the HLL
    max-merge associativity law through a transactional store.
  * ``stream_dedup_watermark`` — Structured Streaming's own dedup
    operator (``dropDuplicatesWithinWatermark``) certified: an ingest
    feed carrying duplicate event rows (2× the %3 keys, 3× the %6 keys)
    is deduplicated by event_id in flight; the surviving rows are
    byte-identical to the original slice. JSONL transport reuses the
    ``jsonl_roundtrip`` microsecond/escape discipline.
  * ``source_overlap_matrix`` — corpus-health containment matrix: for
    every source pair that shares at least one 3-token shingle, the
    exact shingle-set intersection and Jaccard — "which crawl snapshots
    duplicate each other" before cross-source dedup. One distinct over
    (source, shingle), one self-join ON the shingle value (never a
    source × source cross product), per-source sizes broadcast back.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Window as W, functions as F

from h2outility_spark.operators import sketch
from h2outility_spark.operators.similarity import dot
from h2outility_spark.operators.text import shingles_expr, tokens
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.workload import _t, fround, sql_round
from h2outility_spark.workload_lakehouse import scratch_dir
from h2outility_spark.workload_next9 import (
    _SEM_CORPUS_CTE,
    _SEM_TAU,
    _cdc_replica_runner,
    neardup_strict_corpus,
)

# -- salted unigram-LM join for a skewed vocabulary ---------------------------------------

_SALT_R = 8

UNIGRAM_SALTED_ORACLE = """
WITH toks AS (
  SELECT d.doc_id, d.source,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w
  FROM documents d
  WHERE length(trim(text)) > 0
),
cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tot FROM cnt)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT t.w) AS BIGINT) AS n_distinct,
       {logprob} AS mean_logprob
FROM toks t JOIN cnt c USING (w) CROSS JOIN tot
GROUP BY 1
""".format(logprob=sql_round("avg(ln(CAST(c.c AS DOUBLE) / tot.n_tot))", 4))


def q_unigram_lm_salted(spark, sf_dir):
    """Per-source unigram-LM stats THROUGH a salted join. The token →
    count-table join is skew-prone (Zipf: the top token alone can be a
    few percent of all rows), so the big side carries a deterministic
    salt (doc_id mod R) and the count table is replicated ×R with an
    exploded salt column; the equi-join on (w, salt) then spreads each
    heavy token across R reducers. The salt is internal: per-source
    aggregates are identical to the plain join the oracle runs — the
    no-op-on-results law every skew mitigation must satisfy. The 1-row
    total-count broadcast is the allowlisted scalar-BNLJ shape."""
    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    toks = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("n_tot"))
    salted_toks = toks.withColumn(
        "salt", F.pmod(F.col("doc_id"), F.lit(_SALT_R)).cast("int")
    )
    salted_cnt = cnt.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_R - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    return (
        salted_toks.join(salted_cnt, ["w", "salt"])
        .join(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("w").cast("bigint").alias("n_distinct"),
            fround(
                F.avg(F.log(F.col("c").cast("double") / F.col("n_tot"))), 4
            ).alias("mean_logprob"),
        )
    )


# -- bigram LM: per-doc mean log-probability under the corpus's own model -----------------

BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT d.doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w,
         generate_subscripts(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), 1) AS i
  FROM documents d
  WHERE length(trim(text)) > 0
),
big AS (
  SELECT a.doc_id, a.w AS wp, b.w AS wc
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
bc AS (SELECT wp, wc, count(*) AS c2 FROM big GROUP BY 1, 2),
uc AS (SELECT w, count(*) AS c1 FROM toks GROUP BY 1),
vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc)
SELECT big.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {logprob} AS logprob
FROM big
JOIN bc USING (wp, wc)
JOIN uc ON uc.w = big.wp
CROSS JOIN vv
GROUP BY 1
""".format(
    logprob=sql_round(
        "avg(ln((CAST(bc.c2 AS DOUBLE) + 1.0) / (CAST(uc.c1 AS DOUBLE) + vv.v)))", 4
    )
)


def q_bigram_logprob_docs(spark, sf_dir):
    """Per-document ADD-1-SMOOTHED bigram log-probability — the rung
    above ``unigram_logprob_buckets`` on the CCNet-style quality ladder:
    score = mean over a doc's bigrams of ln((c(w_prev, w) + 1) /
    (c(w_prev) + V)). Bigrams are the 2-shingle expression (consecutive
    token pairs, inside whole-stage codegen — the oracle rebuilds the
    same multiset with toks-CTE position joins); the model is two hash
    aggregates over the corpus plus a 1-row vocabulary-size broadcast
    (allowlisted scalar BNLJ). Counts are engine-identical integers, so
    only the final avg needs the 4-dp round. Docs with fewer than two
    tokens have no bigrams and drop out of both engines identically."""
    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    big = docs.select(
        "doc_id", F.explode(shingles_expr("text", 2)).alias("sh")
    ).select(
        "doc_id",
        F.element_at(F.split(F.col("sh"), " "), 1).alias("wp"),
        F.element_at(F.split(F.col("sh"), " "), 2).alias("wc"),
    )
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    bc = big.groupBy("wp", "wc").agg(F.count(F.lit(1)).alias("c2"))
    uc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vv = uc.agg(F.count(F.lit(1)).cast("double").alias("v"))
    lp = F.log(
        (F.col("c2").cast("double") + F.lit(1.0))
        / (F.col("c1").cast("double") + F.col("v"))
    )
    return (
        big.join(bc, ["wp", "wc"])
        .join(uc, F.col("wp") == F.col("w"))
        .join(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            fround(F.avg(lp), 4).alias("logprob"),
        )
    )


# -- SemDeDup with NO driver-side centroid state ------------------------------------------

_SEMP_K = 16


def _sem_parallel_oracle(k: int = _SEMP_K) -> str:
    """The ``semantic_dedup_cells`` oracle at parameterized k — same
    planted corpus, same 12-dp centroid rounding before the final
    assignment (see workload_next9), restated here so the k is pinned
    next to the DataFrame-native implementation it certifies (k=16 for
    the STAGED10 pair; workload_next11's IVF-stored variant reuses it at
    k=64)."""
    return f"""
WITH {_SEM_CORPUS_CTE},
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v AS cvec
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
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


SEM_PARALLEL_ORACLE = _sem_parallel_oracle()


def _assign_cells(e, cents):
    """Broadcast-join argmin assignment: one BNLJ against the k-row
    centroid DataFrame (the allowlisted ivf_search shape), then ONE hash
    aggregate min(struct(dist, cluster, v)) — struct ordering gives the
    distance argmin with the cluster-id tie-break, and the partial min
    combines map-side, so nothing but (vec_id, winner) ever shuffles.
    The n×k exploded set never hits a window sort — the property that
    lets k grow to IVF scale."""
    dist = dot(F.col("cvec"), F.col("cvec")) - F.lit(2.0) * dot(
        F.col("v"), F.col("cvec")
    )
    return (
        e.join(F.broadcast(cents))
        .select("vec_id", F.struct(dist.alias("d"), "cluster", "v").alias("s"))
        .groupBy("vec_id")
        .agg(F.min("s").alias("s"))
        .select("vec_id", F.col("s.cluster").alias("cluster"), F.col("s.v").alias("v"))
    )


def q_semantic_dedup_parallel(spark, sf_dir):
    """SemDeDup at k=16 with the centroids held in DATAFRAMES end to end
    — no ``collect()`` anywhere in the Lloyd loop (the staged
    ``semantic_dedup_cells`` pulls its k×64 centroid rows to the driver,
    which is fine at k=8 but not the 100 TB shape where k is tens of
    thousands and the model itself is distributed state). Seeds = first
    k by vec_id as a DataFrame; one Lloyd update = groupBy(cluster, pos)
    avg rounded at 12 dp (the r12 cross-engine tie-surface discipline)
    re-assembled into vectors; empty cells fall back to their seed via
    left-join coalesce exactly like the oracle's c1 CTE. Near-dup search
    stays within cells (Σ n_c² pairs, never n²) with keep-first."""
    corpus = neardup_strict_corpus(spark, sf_dir)
    e = corpus.select("vec_id", F.col("embedding").alias("v"))
    seeds = (
        e.orderBy("vec_id")
        .limit(_SEMP_K)
        .select(
            (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cluster"),
            F.col("v").alias("cvec"),
        )
    )
    a1 = _assign_cells(e, seeds)
    updated = (
        a1.select("cluster", F.posexplode("v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(fround(F.avg("x"), 12).alias("cv"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select("cluster", F.expr("transform(pairs, p -> p.cv)").alias("cvec_new"))
    )
    c1 = (
        seeds.join(updated, "cluster", "left")
        .select("cluster", F.coalesce("cvec_new", "cvec").alias("cvec"))
    )
    cells = _assign_cells(e, c1)

    # self-dots precomputed per SIDE (n folds), not per PAIR (Σ n_c²) —
    # same doubles multiplied in the same order, so the hash is unchanged
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("ca"),
        F.col("v").alias("va"),
        dot(F.col("v"), F.col("v")).alias("na"),
    )
    b = cells.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cb"),
        F.col("v").alias("vb"),
        dot(F.col("v"), F.col("v")).alias("nb"),
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


# -- bounded CDC catch-up: maxVersionsPerBatch certified ----------------------------------

CDC_BOUNDED_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 900
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents,
       CAST(3 AS INT) AS n_apply_batches
FROM orders
WHERE o_orderkey % 100 BETWEEN 90 AND 95 AND o_orderkey % 7 <> 0
"""


def q_stream_cdc_bounded(spark, sf_dir):
    """The round-13 ``maxVersionsPerBatch`` admission control under the
    driver gate: the replica bootstraps (1 version → 1 batch), misses
    THREE source commits (append / merge +900 on the %3 keys / delete of
    the %7 keys), and catches up with the cap at 2 — the backlog MUST
    arrive as ⌈3/2⌉ = 2 bounded micro-batches, so exactly 3 batch_id
    markers exist afterwards (the constant column the oracle restates),
    and the final replica equals the telescoped single-batch drain that
    ``stream_cdc_catchup`` certifies: bounding admission splits work
    without changing it. Uses the DEFAULT trigger: AvailableNow latches
    the first capped offset as the drain target and would stop after one
    bounded batch (documented in sources/txtable_source.py)."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    slice_ = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 >= 90
    ).filter(F.col("o_orderkey") % 100 <= 95)
    base = slice_.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("cents")
    )
    late = slice_.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", cents.alias("cents")
    )
    root = scratch_dir("h2ou_scdcb_")
    src, replica, drain = _cdc_replica_runner(
        spark,
        root,
        "o_orderkey",
        reader_options={"maxVersionsPerBatch": "2"},
        use_available_now=False,
    )
    src.append(base)
    drain()  # bootstrap: one version, one batch
    src.append(late)  # missed commit 1
    src.merge_upsert(  # missed commit 2: +900 on the %3 keys
        slice_.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", (cents + F.lit(900)).alias("cents")
        )
    )
    src.delete_keys(  # missed commit 3: the %7 keys vanish
        slice_.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    )
    drain()  # capped catch-up: versions {1,2} then {3} — two batches
    n_batches = len(glob.glob(os.path.join(root, "applied", "applied_*")))
    return replica.snapshot().select(
        "o_orderkey", "cents", F.lit(n_batches).cast("int").alias("n_apply_batches")
    )


# -- HLL registers stored in a TxTable: sketch state as a lakehouse table -----------------

def _hll_txtable_oracle() -> str:
    """Built lazily (needs workload_next8's shared estimator fragments);
    consumed directly by the STAGED10 entry below."""
    from h2outility_spark.workload_next8 import _HLL_RHO_ORACLE, _hll_case_sql

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
r AS (
  SELECT week, bucket, max({_HLL_RHO_ORACLE}) AS reg
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT week, sum(power(2.0, -reg)) AS s_nonempty,
         CAST(count(*) AS DOUBLE) AS n_nonempty
  FROM r GROUP BY 1
),
est AS (SELECT week, {_hll_case_sql("s_nonempty", "n_nonempty")} AS e FROM agg),
ex AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM e GROUP BY 1)
SELECT ex.week, ex.n_exact,
       {sql_round("est.e", 4)} AS est_distinct,
       abs({sql_round("est.e", 4)} / CAST(ex.n_exact AS DOUBLE) - 1.0) <= 0.2 AS within_band
FROM ex JOIN est ON est.week = ex.week
"""


def q_hll_registers_txtable(spark, sf_dir):
    """Sketch state AS a lakehouse table — the serving pattern the two
    families were built toward: weekly HLL register grids live in a
    TxTable keyed (week, bucket); three ingest batches (events split by
    user_id % 3) each merge their batch grid into the stored state,
    upserting ONLY the cells the batch RAISED (left join against the
    snapshot, keep reg > stored — O(changed cells) per ingest, the
    register-grid analog of the pruned MERGE). The serving query then
    estimates weekly distincts from the STORED grid alone. The oracle
    rebuilds registers from all events in one pass: equality is the HLL
    max-merge associativity law carried through a transactional store
    and three incremental commits."""
    from h2outility_spark.storage_tx import TxTable

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(F.date_trunc("week", "ts").cast("date").alias("week"), "user_id")
    )
    state = TxTable(
        spark, scratch_dir("h2ou_hllstate_") + "/grid", key_cols=["week", "bucket"]
    )
    for i in range(3):
        batch = ev.filter(F.col("user_id") % 3 == i)
        grid_b = sketch.hll_registers(batch, "user_id", "week")
        if state.latest_version() is None:
            state.append(grid_b)
            continue
        cur = state.snapshot().select(
            "week", "bucket", F.col("reg").alias("cur_reg")
        )
        delta = (
            grid_b.join(cur, ["week", "bucket"], "left")
            .filter(F.col("cur_reg").isNull() | (F.col("reg") > F.col("cur_reg")))
            .select("week", "bucket", "reg")
        )
        state.merge_upsert(delta)
    stored = state.snapshot()
    est = sketch.hll_estimate(stored, "week")
    exact = ev.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    e4 = fround(F.col("est_distinct"), 4)
    return exact.join(est, "week").select(
        "week",
        "n_exact",
        e4.alias("est_distinct"),
        (
            F.abs(e4 / F.col("n_exact").cast("double") - F.lit(1.0)) <= F.lit(0.2)
        ).alias("within_band"),
    )


# -- streaming dedup: dropDuplicatesWithinWatermark ---------------------------------------

_JSON_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

STREAM_DEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events WHERE event_id % 100 < 8
"""


def q_stream_dedup_watermark(spark, sf_dir):
    """Structured Streaming's own stateful dedup operator certified: a
    JSONL ingest feed carries DUPLICATE event rows (the %3 keys twice,
    the %6 keys three times — the at-least-once delivery every real
    ingest bus produces) and ``dropDuplicatesWithinWatermark`` on
    event_id collapses them in flight, state bounded by the watermark
    horizon instead of growing forever (the operator's whole advantage
    over ``dropDuplicates`` for unbounded streams). The surviving rows
    must be byte-identical to the original slice — µs timestamps and
    full-precision doubles ride the explicit JSONL format from the
    ``jsonl_roundtrip`` lesson. The delay horizon (3650 days) spans the
    whole fixture so no key can expire mid-run: eviction timing is the
    one nondeterminism the operator allows, and pinning the horizon
    past the data keeps the pair exact."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 100 < 8).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    dup2 = ev.filter(F.col("event_id") % 3 == 0)
    dup3 = ev.filter(F.col("event_id") % 6 == 0)
    feed = ev.unionByName(dup2).unionByName(dup3)
    root = scratch_dir("h2ou_sdedup_")
    in_dir, out_dir, ckpt = root + "/in", root + "/out", root + "/ck"
    feed.write.mode("overwrite").option("timestampFormat", _JSON_TS_FMT).json(in_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("timestampFormat", _JSON_TS_FMT)
        .json(in_dir)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    from h2outility_spark.streaming.incremental import drain_available_now

    drain_available_now(
        spark,
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    return read_parquet(spark, out_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# -- cross-source shingle containment matrix ----------------------------------------------

SOURCE_OVERLAP_ORACLE = """
WITH toks AS (
  SELECT d.doc_id, d.source,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w,
         generate_subscripts(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), 1) AS i
  FROM documents d
  WHERE length(trim(text)) > 0
),
sh AS (
  SELECT DISTINCT a.source, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       {jac} AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
""".format(
    jac=sql_round(
        "CAST(i.n_inter AS DOUBLE) / CAST(sa.n + sb.n - i.n_inter AS DOUBLE)", 4
    )
)


def q_source_overlap_matrix(spark, sf_dir):
    """Corpus-health containment matrix: exact 3-shingle-set overlap for
    every source pair that shares at least one shingle — the report that
    decides which crawl snapshots need cross-source dedup before
    training. Scale shape: ONE distinct over (source, shingle), a
    self-join ON THE SHINGLE VALUE (co-partitioned by shingle hash —
    never a source × source cross product; cost is Σ per-shingle
    source-pair counts, the same telescoping as the minhash bucket
    join), one pair aggregate, and two broadcast joins against the
    20-row size table. Zero-overlap pairs are absent on both engines by
    the same inner-join semantics."""
    docs = _t(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    sh = docs.select(
        "source", F.explode(shingles_expr("text", 3)).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            fround(jac, 4).alias("jaccard"),
        )
    )


#: name -> (fn, oracle) for a future promotion pass and the parity test.
STAGED10 = {
    "unigram_lm_salted": (q_unigram_lm_salted, UNIGRAM_SALTED_ORACLE),
    "bigram_logprob_docs": (q_bigram_logprob_docs, BIGRAM_LM_ORACLE),
    "semantic_dedup_parallel": (q_semantic_dedup_parallel, SEM_PARALLEL_ORACLE),
    "stream_cdc_bounded": (q_stream_cdc_bounded, CDC_BOUNDED_ORACLE),
    "hll_registers_txtable": (q_hll_registers_txtable, _hll_txtable_oracle()),
    "stream_dedup_watermark": (q_stream_dedup_watermark, STREAM_DEDUP_ORACLE),
    "source_overlap_matrix": (q_source_overlap_matrix, SOURCE_OVERLAP_ORACLE),
}
