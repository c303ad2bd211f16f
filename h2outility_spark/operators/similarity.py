"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star) — brute-force cosine top-k as
the exactness baseline, and an IVF-style (inverted-file / centroid-bucketed)
variant as the scale path.

Scale design:
  * Brute force is a broadcast nested-loop: broadcast the (small) query set
    against the (huge) candidate table — no shuffle of the candidates, one
    TakeOrdered per query via window top-k. Cost O(|C|·|Q|·d) FLOPs but
    embarrassingly parallel; it is the correct baseline and the verifier
    for approximate methods.
  * IVF: k centroids (from labels or k-means elsewhere) are broadcast;
    each candidate is assigned to its nearest centroid once (narrow map);
    a query probes only its top-n_probe centroid cells → the scan
    touches |C|·n_probe/k rows. At 100 TB the candidate table is
    partitioned by cell id so probing is partition pruning, not a scan.
  * Arithmetic: dot products via ``F.zip_with`` + ``F.aggregate`` fold —
    JVM-side, sequential accumulation (bit-identical to DuckDB's
    list_inner_product on the same doubles, which the oracle exploits).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (left-to-right, like the oracle's).

    Deliberately NOT unrolled into ``a[0]*b[0] + a[1]*b[1] + ...`` when the
    dim is statically known: that was tried (r14 optimization round) and
    measured a 3x REGRESSION on the candidate-pair verify stages (LSH
    verify 4.5 s → 15 s at sf0.1, in-process A/B) — three ~190-node
    expression trees per row (sim + its filter/null-check copies) blow the
    codegen budget and fall back to per-node interpreted evaluation with
    boxing, which is far slower than one interpreted fold over a primitive
    array. Dense-matrix work that genuinely needs vectorization goes
    through the Arrow kernel (:func:`rp_sig_udf`) instead (guide §4.2).
    """
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against all candidates (self-match
    excluded). Queries are broadcast; ranking is a window top-k partitioned
    by query id with a deterministic tie-break on candidate id. The
    per-side self-dots are precomputed once per row instead of once per
    pair (n folds, not n·k)."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        dot(as_double(F.col(vec_col)), as_double(F.col(vec_col))).alias("__nq"),
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"),
        as_double(F.col(vec_col)).alias("cv"),
        dot(as_double(F.col(vec_col)), as_double(F.col(vec_col))).alias("__nc"),
    )
    sim = dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__nq") * F.col("__nc"))
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", sim.alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def centroids_by_label(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean vector per label — the IVF coarse quantizer when a
    clustering (or class label) already exists. posexplode → groupBy
    (label, pos) keeps the agg combiner-friendly at any dimensionality."""
    exploded = embeddings.select(
        F.col(label_col), F.posexplode(as_double(F.col(vec_col))).alias("pos", "x")
    )
    return exploded.groupBy(label_col, "pos").agg(F.avg("x").alias("centroid_val"))


def _round_half_up(col: Column, n: int) -> Column:
    factor = float(10**n)
    return F.floor(col * F.lit(factor) + F.lit(0.5)) / F.lit(factor)


def pack_centroids(centroids: DataFrame, label_col: str = "label", round_dp: int | None = 6) -> DataFrame:
    """(label, pos, centroid_val) rows → (cell, cvec array<double>).

    Centroid components are rounded (default 6 dp) so that cell-assignment
    comparisons are reproducible across engines — partial-aggregation order
    makes raw averages differ in the last ulp.
    """
    val = F.col("centroid_val")
    if round_dp is not None:
        val = _round_half_up(val, round_dp)
    return (
        centroids.select(F.col(label_col).alias("cell"), "pos", val.alias("cv"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select("cell", F.expr("transform(pairs, p -> p.cv)").alias("cvec"))
    )


def ivf_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_probe: int = 1,
    spill: bool = False,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: each query probes its ``n_probe`` nearest centroid
    cells (default 1); exact cosine top-k within the probed cells (the
    probed union is exactly re-ranked — there is no approximate scoring
    stage to tune separately).

    ``centroids`` (a packed ``(cell, cvec array<double>)`` frame, e.g. a
    persisted model loaded from a TxTable snapshot) skips the in-session
    training pass entirely — the serving path for a STORED coarse
    quantizer that scheduled jobs advance out of band. Default ``None``
    trains from ``embeddings``' labels as before.

    At scale the candidate table is partitioned by cell, so the in-cell
    join is partition-pruned — the query never scans the full corpus. The
    centroids (k rows) are always broadcast. ``n_probe`` is the standard
    recall/cost dial: probing p of c cells scans ~p/c of the corpus.

    ``spill=True`` handles an ``embeddings`` frame carrying REDUNDANT
    (id, cell) assignments (ivf_assign_multi): the same candidate can
    enter via several probed cells, so scores are deduped per
    (query, cand) before ranking. Costs one extra shuffle on the small
    scored set; required for correctness only in the spill layout.
    """
    from pyspark.sql import Window as W

    if centroids is not None:
        cents = centroids.select("cell", "cvec")
    else:
        cents = pack_centroids(centroids_by_label(embeddings, label_col, vec_col))
    # Self-dots precomputed per SIDE, not per pair: cosine(a,b) =
    # dot(a,b)/sqrt(dot(a,a)*dot(b,b)) with the same doubles multiplied in
    # the same order, so scores are bit-identical while the in-cell scan
    # runs one fold per pair instead of three (the wave-1 embedding_knn
    # measurement: −62% on the pair stage).
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__nq", dot(F.col("qv"), F.col("qv")))
    cents_n = cents.withColumn("__ncell", dot(F.col("cvec"), F.col("cvec")))
    scored_cells = q.join(F.broadcast(cents_n)).select(
        "query_id",
        "qv",
        "__nq",
        "cell",
        (dot(F.col("qv"), F.col("cvec")) / F.sqrt(F.col("__nq") * F.col("__ncell"))).alias("cell_sim"),
    )
    wc = W.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell"))
    best_cell = (
        scored_cells.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= n_probe)
        .select("query_id", "qv", "__nq", "cell")
    )
    cands = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(label_col).alias("cell"), as_double(F.col(vec_col)).alias("cv2")
    ).withColumn("__ncv", dot(F.col("cv2"), F.col("cv2")))
    scored = (
        cands.join(F.broadcast(best_cell), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qv"), F.col("cv2")) / F.sqrt(F.col("__nq") * F.col("__ncv"))).alias("cos_sim"),
        )
    )
    if spill:
        scored = scored.groupBy("query_id", "cand_id").agg(F.max("cos_sim").alias("cos_sim"))
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def ivf_assign_multi(
    embeddings: DataFrame,
    centroids: DataFrame,
    m: int = 2,
    ratio: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Redundant (spill) cell assignment: each vector lands in its ``m``
    nearest centroid cells. Output: (id, cell) rows, m per vector.

    This is the IVF answer to cell-BOUNDARY recall loss — a true neighbor
    just across the Voronoi face of the query's probed cells is the
    dominant failure mode on weakly-clustered corpora. Duplicating each
    candidate into its m nearest cells costs m× storage (and ~m× rows per
    probed cell) but recovers exactly those boundary neighbors; measured
    on the structure-poor synthetic corpus it beats single-assignment at
    EQUAL rows-scanned (RECALL.json: kmeans128 m2/probe6 = 0.86 at 9.4%
    rows vs the single-assignment m1 curve; also proven directly by
    tests/test_ann_recall.py's same-probe-budget comparison),
    and 96-cell m=3 is the measured row-efficiency frontier (probe 4 =
    recall 0.914 at 12.5% rows, the production config). Real text
    embeddings cluster far better, so the same recall needs smaller
    m·probe — spill is the worst-case insurance, not a fixed tax.

    ``ratio`` switches ranks 2..m to ADAPTIVE spill: a spill copy is kept
    only while its angular distance stays within ``ratio``× the nearest
    cell's (``(1-sim_k) <= ratio*(1-sim_1)``), so the duplication budget
    concentrates on genuine boundary vectors instead of taxing every row.
    Measured trade (the committed RECALL.json sweep, 96 cells, ratio
    1.05): adaptive serves row budgets BELOW fixed-m's floor — 0.800
    recall at 3.3% rows (probe 3) and 0.774 at 2.2% rows (probe 2), where
    the cheapest fixed-m point is 0.898 at 9.4%; at budgets >= ~9% rows
    fixed-m wins outright. Same broadcast-centroids narrow-map shape as
    ivf_assign.
    """
    from pyspark.sql import Window as W

    packed = (
        centroids.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("pairs"))
        .select(F.col(label_col).alias("cell"), F.expr("transform(pairs, p -> p.centroid_val)").alias("cv"))
    )
    # per-side self-dots: one fold per (vector, cell) pair instead of three;
    # same multiply order, bit-identical sims
    v = embeddings.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")).withColumn(
        "__nv", dot(F.col("v"), F.col("v"))
    )
    packed = packed.withColumn("__ncv", dot(F.col("cv"), F.col("cv")))
    scored = v.join(F.broadcast(packed)).select(
        id_col,
        "cell",
        (dot(F.col("v"), F.col("cv")) / F.sqrt(F.col("__nv") * F.col("__ncv"))).alias("sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= m)
    if ratio is not None:
        best = F.max(F.when(F.col("rk") == 1, F.col("sim"))).over(W.partitionBy(id_col))
        ranked = ranked.withColumn("best_sim", best).filter(
            (F.col("rk") == 1) | ((1 - F.col("sim")) <= F.lit(ratio) * (1 - F.col("best_sim")))
        )
    return ranked.select(id_col, "cell")


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Recall of an ANN result against the brute-force truth: both frames
    carry (query_id, cand_id); recall = |approx ∩ exact| / |exact|.

    Driver-side scalar (two counts) — the join is a semi join on the tiny
    result sets, not the corpus.
    """
    hits = exact.join(approx, ["query_id", "cand_id"], "left_semi").count()
    total = exact.count()
    return hits / total if total else 1.0


def pair_recall(candidates: DataFrame, truth: DataFrame) -> float:
    """Recall of a candidate-pair prefilter against the true near-dup pair
    set: both frames carry (id_a, id_b) with id_a < id_b."""
    hits = truth.join(candidates, ["id_a", "id_b"], "left_semi").count()
    total = truth.count()
    return hits / total if total else 1.0


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥
    threshold.

    This is the exact O(n²) verifier, run as a broadcast nested-loop join
    (one side broadcast, candidates streamed). At corpus scale it is never
    run globally — candidates come from an LSH/IVF prefilter
    (rp_lsh_signatures / ivf cells) and this join verifies within buckets,
    exactly like the minhash→jaccard two-stage in dedup.py."""
    v = as_double(F.col(vec_col))
    a = embeddings.select(F.col(id_col).alias("id_a"), v.alias("va"), dot(v, v).alias("__na"))
    b = embeddings.select(F.col(id_col).alias("id_b"), v.alias("vb"), dot(v, v).alias("__nb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    # dot(a,b)/sqrt(na*nb) is the same IEEE arithmetic as cosine(a,b) with
    # the self-dots precomputed per SIDE (n of them) instead of per PAIR (n²)
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("__na") * F.col("__nb"))
    return pairs.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def random_hyperplanes(n_planes: int, dim: int, seed: str = "h") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — plain Python
    constants, so the SAME numbers can be inlined into the DuckDB oracle
    (no cross-engine randomness)."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}{j}_{d}".encode()).hexdigest()
            row.append(int(h[:2], 16) - 127.5)
        planes.append(row)
    return planes


def rp_lsh_signatures(
    embeddings: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH signature: one bit per
    hyperplane = sign of the dot product. Vectors with high cosine land in
    the same bucket with probability 1 − θ/π per bit — the bucket-join
    prefilter for cosine near-dup at corpus scale. Narrow map, no shuffle.

    Computed through the SAME Arrow-batched matmul kernel as the banded
    candidate path (:func:`rp_sig_udf`): one numpy matmul per batch. The
    old per-plane expression form built n_planes × dim literal trees —
    the optimizer+codegen cost grew superlinearly with plane count (the
    auto-sized 128-plane signature spent ~10 s per run just planning) and
    the fold itself was interpreted per element. Sign decisions sit far
    from zero (plane components are O(100) half-integers, data O(1)), so
    BLAS accumulation order cannot flip a bit vs. the sequential fold —
    the per-query DuckDB oracle (exact fold arithmetic) pins this.
    """
    planes = random_hyperplanes(n_planes, dim)
    sig = rp_sig_udf(planes)
    return embeddings.select(F.col(id_col), sig(F.col(vec_col)).alias("rp_sig"))


def rp_sig_udf(planes):
    """Arrow-batched signature bits for a whole plane matrix: one numpy
    matmul per batch instead of n_planes fold expressions. Dense matrix
    arithmetic is the one place the built-in expression path genuinely
    loses (an `aggregate`/`zip_with` fold is interpreted per element, and a
    128-plane literal tree also stalls the optimizer — both measured ~10x
    slower than this at sf0.01). Sign decisions are far from zero (plane
    components are O(100), data O(1)), so BLAS accumulation order cannot
    flip a bit vs. the fold form."""
    import numpy as np

    mat = np.asarray(planes, dtype=np.float64).T  # dim x n_planes

    @F.pandas_udf("string")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (V @ mat) > 0
        return pd.Series(["".join("1" if b else "0" for b in row) for row in bits])

    return sig


def rp_band_udf(planes, n_bits: int, n_bands: int):
    """Arrow-batched FOLDED INT64 band keys: one numpy matmul per batch
    (same plane arithmetic as :func:`rp_sig_udf`), then each band's bit
    block packed into an integer with the band index baked into the high
    bits (``key_j = bits_j + (j << n_bits)``), so a single ``long`` column
    is both the band identity and the bucket key.

    Why not the string path (sig string → per-band ``substr``): the band
    rows are the ONLY thing the candidate self-join shuffles, and an
    8-byte long beats a (int band, n_bits-char string) pair on every axis
    that matters there — shuffle bytes, hash/compare cost in the join, and
    the per-row Python string build in the kernel. Measured (in-process
    interleaved A/B at sf0.1, min-of-3): candidate stage 3.41 → 2.53 s
    (−26%), full 0.45-threshold query 5.13 → 4.23 s, strict 2.56 →
    2.04 s, with result hashes identical — bucket membership is the same
    bit pattern either way."""
    import numpy as np

    if n_bits + max(1, (n_bands - 1).bit_length()) > 62:
        raise ValueError(f"folded band key overflows int64: n_bits={n_bits} n_bands={n_bands}")
    mat = np.asarray(planes, dtype=np.float64).T  # dim x (n_bits*n_bands)
    pw = (1 << np.arange(n_bits - 1, -1, -1)).astype(np.int64)
    off = np.arange(n_bands, dtype=np.int64) << n_bits

    @F.pandas_udf("array<long>")
    def bands(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = ((V @ mat) > 0).astype(np.int64).reshape(len(V), n_bands, n_bits)
        keys = bits @ pw + off[None, :]
        return pd.Series(list(keys))

    return bands


def auto_n_bits(n_rows: int, target_bucket: int = 32) -> int:
    """Signature width that HOLDS random-bucket occupancy as data grows:
    bits = ceil(log2(n / target_bucket)), so doubling the corpus adds
    exactly one bit (ceil(log2(2x)) = ceil(log2(x)) + 1) and the expected
    occupancy of a random band bucket stays ~target_bucket. This turns the
    operator contract "fixed-bit LSH config must grow ~log2(n) with data"
    (bench.py 100x notes) into engine behavior instead of a caveat the
    caller must remember at 100 TB."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_rows / target_bucket))))


#: Banded frames persisted by previous rp_lsh_candidate_pairs calls, still
#: registered with the session's CacheManager. Each new call evicts them
#: (see the lifetime note inside the function), bounding a long session's
#: cached-LSH footprint to the one query in flight.
_LIVE_BANDED: list[DataFrame] = []


def rp_lsh_candidate_pairs(
    embeddings: DataFrame,
    n_bits: int | None = 4,
    n_bands: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    target_bucket: int = 32,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from an RP-LSH banded self-join.

    The full (n_bits*n_bands)-bit signature is computed in one vectorized
    pass (narrow map, no shuffle) and folded into ONE INT64 key per band
    (band index in the high bits — :func:`rp_band_udf`); one explode emits
    the band rows; the self-join on the folded key explodes only within
    buckets — the shuffle is keyed by it, so hot buckets are the only
    skew hazard. A
    corpus with a degenerate direction (many near-identical vectors) makes
    one bucket k-wide and its pairs k²; ``max_bucket`` drops such buckets
    from pairing via a broadcast anti-join against the (tiny) giant-bucket
    list, mirroring dedup.lsh_candidate_pairs_quarantined.

    ``n_bits=None`` auto-sizes the band width via :func:`auto_n_bits`, so
    the bucket occupancy — and with it the candidate-set cost — stays
    flat as the corpus scales instead of silently degrading to O(n²).
    The size comes from ``n_rows`` when the caller already knows it;
    otherwise from ``embeddings.count()`` — metadata-cheap on a raw
    parquet scan, but a FULL extra execution of a derived pipeline, so
    callers feeding a computed frame should pass ``n_rows`` (an estimate
    is fine: only log2 of it matters) or cache the frame first. Pass an
    explicit ``n_bits`` to pin a configuration (the registered queries
    do, for oracle determinism).

    Only one LSH query per session can hold the banded cache at a time:
    each call evicts the previous call's banded persist, so build and
    execute an LSH query before building the next one. A frame from an
    earlier call that is executed after a later call was built still
    returns the same rows, but recomputes its signatures.
    """
    if n_bits is None:
        n_bits = auto_n_bits(n_rows if n_rows is not None else embeddings.count(), target_bucket)
    planes = random_hyperplanes(n_bits * n_bands, dim)
    bu = rp_band_udf(planes, n_bits, n_bands)
    banded = embeddings.select(F.col(id_col), F.explode(bu(F.col(vec_col))).alias("bkey"))
    # Both sides of the self-join (and the quarantine groupBy) consume this
    # frame; without the persist each consumer re-runs the whole signature
    # pipeline — embeddings scan + Arrow matmul + explode — from scratch.
    # The banded rows are narrow ((id, long): 16 bytes x n_bands per
    # vector) and MEMORY_AND_DISK spills, so the reuse trades a bounded
    # materialization for a second full signature pass (measured -13% on
    # both registered LSH queries, non-overlapping ABBA samples on the
    # strict pair; r14 #9).
    #
    # Lifetime (ADVICE r14): the persist cannot be released inside this
    # function — the returned frame is lazy, and unpersisting before the
    # caller materializes it would drop the cache entry the plan is built
    # to reuse (while an EAGER materialize-here would move candidate work
    # outside the caller's timed/actioned region, which the bench contract
    # forbids). Instead each call EVICTS the previous call's banded frame,
    # so a long-lived session running many LSH queries holds at most ONE
    # live banded cache entry instead of accumulating them for the session
    # lifetime. Assumes LSH queries are built-then-executed one at a time
    # per session (true of the driver, bench, and every registered caller;
    # same single-threaded-session assumption as
    # streaming.incremental.micro_batch_shuffle). Eviction is best-effort:
    # a frame whose session has stopped cannot unpersist, and its cache
    # entry died with that session, so the failure is dropped.
    while _LIVE_BANDED:
        stale = _LIVE_BANDED.pop()
        try:
            stale.unpersist(False)
        except Exception:  # noqa: BLE001
            pass
    banded = banded.persist()
    _LIVE_BANDED.append(banded)
    if max_bucket is not None:
        giants = (
            banded.groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("bkey")
        )
        banded = banded.join(F.broadcast(giants), ["bkey"], "left_anti")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bkey") == F.col("r.bkey")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def cosine_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    n_bits: int | None = 4,
    n_bands: int = 32,
    dim: int = 64,
    n_rows: int | None = None,
    max_bucket: int | None = None,
    target_bucket: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding-cosine near-dup: RP-LSH band buckets →
    in-bucket candidate pairs → exact cosine verify (the two-stage shape of
    dedup's minhash→jaccard). Never materializes the O(n²) cross product;
    vectors are fetched for candidate pairs only, via two hash joins.

    Parameter honesty: per-band collision probability for angle θ is
    (1 − θ/π)^n_bits, so selectivity depends on the threshold. At the
    near-dup regimes that matter in practice (cos ≥ 0.85, θ ≤ 32°,
    per-bit agreement ≥ 0.82) a 4-bit band keeps ~0.45 of true pairs and
    ~0.06 of random pairs — strong pruning. At borderline thresholds near
    the random regime (like the 0.45 used by the registered query on
    synthetic data) ANY recall-1.0 configuration must examine most pairs;
    the defaults (4 bits × 32 bands) are chosen for empirical recall 1.0
    against the brute-force oracle at the test scales, which the driver's
    correctness gate then proves.
    """
    cand = rp_lsh_candidate_pairs(
        embeddings,
        n_bits,
        n_bands,
        dim,
        id_col,
        vec_col,
        max_bucket=max_bucket,
        target_bucket=target_bucket,
        n_rows=n_rows,
    )
    v = as_double(F.col(vec_col))
    # self-dots precomputed per side (n folds, not one per pair); the pair
    # expression dot(a,b)/sqrt(na*nb) is the same IEEE arithmetic as
    # cosine(a,b), so values stay bit-identical to the brute-force oracle
    a = embeddings.select(
        F.col(id_col).alias("id_a"), v.alias("va"), dot(v, v).alias("na")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), v.alias("vb"), dot(v, v).alias("nb")
    )
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (broadcast join
    against the collected centroid vectors). Output: (id, cell)."""
    packed = (
        centroids.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("pairs"))
        .select(F.col(label_col).alias("cell"), F.expr("transform(pairs, p -> p.centroid_val)").alias("cv"))
    )
    # per-side self-dots: one fold per (vector, cell) pair instead of three;
    # same multiply order, bit-identical sims
    v = embeddings.select(F.col(id_col), as_double(F.col(vec_col)).alias("v")).withColumn(
        "__nv", dot(F.col("v"), F.col("v"))
    )
    packed = packed.withColumn("__ncv", dot(F.col("cv"), F.col("cv")))
    scored = v.join(F.broadcast(packed)).select(
        id_col,
        "cell",
        (dot(F.col("v"), F.col("cv")) / F.sqrt(F.col("__nv") * F.col("__ncv"))).alias("sim"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1).select(id_col, "cell")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN
# ---------------------------------------------------------------------------


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Product-quantizer codebooks: the dim-d space is split into ``m``
    contiguous subspaces of width d/m; subspace ``s``'s codebook entry for
    each label is the corresponding SLICE of the per-label mean vector
    (components rounded 6 dp for engine-stable argmin, exactly like
    pack_centroids). Output: (s, code, cvec).

    Labels stand in for a per-subspace k-means here (same substitution the
    IVF coarse quantizer makes); the PQ property — codes combine
    independently across subspaces, so m log2(k)-bit codes address k^m
    reconstruction points — holds regardless of how the codebook was
    trained.
    """
    w = dim // m
    full = pack_centroids(centroids_by_label(embeddings, label_col, vec_col))
    return full.select(
        F.col("cell").alias("code"),
        F.posexplode(
            F.expr(f"transform(sequence(0, {m - 1}), s -> slice(cvec, s * {w} + 1, {w}))")
        ).alias("s", "cvec"),
    ).select("s", "code", "cvec")


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector, per subspace, to its nearest codebook entry by
    squared L2 (computed as c·c − 2·v·c, the v·v term constant per row;
    sequential fold so the oracle's list_inner_product agrees bit-for-bit).
    Output: (id, s, code) — at scale this is the 32x-compressed
    representation that replaces the float vectors in the scan.

    Codebooks are broadcast; the argmin is a row_number over (id, s) — each
    window partition holds exactly k candidate rows.
    """
    from pyspark.sql import Window as W

    w = dim // m
    subs = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"s -> slice(CAST({vec_col} AS ARRAY<DOUBLE>), s * {w} + 1, {w}))"
            )
        ).alias("s", "vsub"),
    )
    scored = subs.join(F.broadcast(codebooks), "s").select(
        id_col,
        "s",
        "code",
        (dot(F.col("cvec"), F.col("cvec")) - F.lit(2.0) * dot(F.col("vsub"), F.col("cvec"))).alias("d2"),
    )
    win = W.partitionBy(id_col, "s").orderBy("d2", "code")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(id_col, "s", "code")
    )


def pq_reconstruct(codes: DataFrame, codebooks: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Rebuild the quantized vector: concatenate each subspace's codebook
    entry in subspace order. Scoring against the reconstruction is
    mathematically identical to LUT-based ADC (the LUT is the same sum,
    precomputed per query); the reconstruction form keeps every score a
    single sequential fold, which the DuckDB oracle reproduces exactly."""
    return (
        codes.join(F.broadcast(codebooks), ["s", "code"])
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cvec"))),
                    lambda p: p["cvec"],
                )
            ).alias("rvec")
        )
    )


def pq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 50,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN search with exact re-rank: score every candidate's
    RECONSTRUCTED vector against the query (ADC), keep the top
    ``shortlist``, then exact-cosine re-rank the shortlist and emit the
    top k.

    Scale design: the ADC scan reads (id, codes) — 32x less memory
    bandwidth than raw floats (the production form keeps a per-query
    m x k LUT and sums m lookups per candidate; identical scores). The
    exact re-rank touches only |Q| x shortlist rows. PQ compresses the
    scan; combine with IVF cells (ivf_search) to also SKIP most of it —
    classic IVF-PQ layering.
    """
    from pyspark.sql import Window as W

    cbs = (
        codebooks
        if codebooks is not None
        else pq_codebooks(embeddings, m=m, dim=dim, vec_col=vec_col, label_col=label_col)
    )
    codes = pq_encode(embeddings, cbs, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    recon = pq_reconstruct(codes, cbs, id_col=id_col).withColumn(
        "__nr", dot(F.col("rvec"), F.col("rvec"))
    )
    # per-side self-dots (same multiply order as cosine(), bit-identical
    # scores): the ADC scan folds once per (query, cand) pair, not thrice
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__nq", dot(F.col("qv"), F.col("qv")))
    approx = recon.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        "qv",
        "__nq",
        F.col(id_col).alias("cand_id"),
        (dot(F.col("qv"), F.col("rvec")) / F.sqrt(F.col("__nq") * F.col("__nr"))).alias("asim"),
    )
    ws = W.partitionBy("query_id").orderBy(F.col("asim").desc(), F.col("cand_id"))
    short = (
        approx.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "qv", "__nq", "cand_id")
    )
    cands = embeddings.select(
        F.col(id_col).alias("cand_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("__ncv", dot(F.col("cv"), F.col("cv")))
    exact = short.join(cands, "cand_id").select(
        "query_id",
        "cand_id",
        (dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__nq") * F.col("__ncv"))).alias("cos_sim"),
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        exact.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def pq_codebooks_kmeans(
    embeddings: DataFrame,
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Production PQ codebooks: an independent k-means per subspace over
    that subspace's slices (the FAISS training recipe). m runs of Lloyd's
    over d/m-dim data; each model is k x d/m doubles on the driver — at
    100 TB you train on a deterministic sample, the codebook stays tiny
    either way. Output (s, code, cvec) matches pq_codebooks, so encode /
    reconstruct / search compose with either quantizer."""
    from h2outility_spark.operators.kmeans import kmeans_grouped

    w = dim // m
    # All m subspace k-means runs ride ONE pipeline per Lloyd iteration
    # (kmeans_grouped): same seeds/argmin/update arithmetic per subspace as
    # the former per-s kmeans() loop, but 2 + max_iter collect-jobs total
    # instead of m * (1 + max_iter) — the driver round-trip count no longer
    # grows with m (measured ~4x end-to-end on the pq_* queries).
    subs = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"s -> slice(CAST({vec_col} AS ARRAY<DOUBLE>), s * {w} + 1, {w}))"
            )
        ).alias("s", "vs"),
    )
    cents = kmeans_grouped(
        subs, k=k, max_iter=max_iter, id_col=id_col, group_col="s", vec_col="vs"
    )
    if round_dp is not None:
        cents = cents.withColumn(
            "centroid_val", _round_half_up(F.col("centroid_val"), round_dp)
        )
    return (
        cents.groupBy("s", "cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))).alias("pairs"))
        .select(
            "s",
            F.col("cluster").alias("code"),
            F.expr("transform(pairs, p -> p.centroid_val)").alias("cvec"),
        )
    )


def ivfpq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    shortlist: int = 30,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The composed IVF-PQ layering: the coarse quantizer (cells) prunes
    WHICH vectors are scanned, PQ codes compress WHAT the scan reads, the
    exact re-rank repairs ranking error on the shortlist.

    Per query: probe the ``n_probe`` nearest cells by centroid cosine; ADC
    score only the probed cells' candidates against their reconstructions;
    exact-cosine re-rank the top ``shortlist``; emit top k. At 100 TB the
    candidate table is partitioned by cell and stores (id, codes) — probing
    is partition pruning and the scan reads 32x fewer bytes; FAISS's
    IVFADC, as DataFrame ops.
    """
    from pyspark.sql import Window as W

    cents = pack_centroids(centroids_by_label(embeddings, label_col, vec_col))
    cbs = pq_codebooks(embeddings, m=m, dim=dim, vec_col=vec_col, label_col=label_col)
    codes = pq_encode(embeddings, cbs, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    recon = pq_reconstruct(codes, cbs, id_col=id_col)

    # per-side self-dots throughout (same multiply order as cosine(),
    # bit-identical): probe, ADC scan and re-rank each fold once per pair
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("__nq", dot(F.col("qv"), F.col("qv")))
    cents_n = cents.withColumn("__ncell", dot(F.col("cvec"), F.col("cvec")))
    scored_cells = q.join(F.broadcast(cents_n)).select(
        "query_id",
        "qv",
        "__nq",
        "cell",
        (dot(F.col("qv"), F.col("cvec")) / F.sqrt(F.col("__nq") * F.col("__ncell"))).alias("cell_sim"),
    )
    wc = W.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell"))
    best_cells = (
        scored_cells.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= n_probe)
        .select("query_id", "qv", "__nq", "cell")
    )
    cands = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(label_col).alias("cell")
    )
    recon_n = recon.withColumnRenamed(id_col, "cand_id").withColumn(
        "__nr", dot(F.col("rvec"), F.col("rvec"))
    )
    probed = (
        cands.join(F.broadcast(best_cells), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(recon_n, "cand_id")
        .select(
            "query_id",
            "qv",
            "__nq",
            "cand_id",
            (dot(F.col("qv"), F.col("rvec")) / F.sqrt(F.col("__nq") * F.col("__nr"))).alias("asim"),
        )
    )
    ws = W.partitionBy("query_id").orderBy(F.col("asim").desc(), F.col("cand_id"))
    short = (
        probed.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "qv", "__nq", "cand_id")
    )
    ev = embeddings.select(
        F.col(id_col).alias("cand_id"), as_double(F.col(vec_col)).alias("cv")
    ).withColumn("__ncv", dot(F.col("cv"), F.col("cv")))
    exact = short.join(ev, "cand_id").select(
        "query_id",
        "cand_id",
        (dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__nq") * F.col("__ncv"))).alias("cos_sim"),
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        exact.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + semantic rankings fused with RRF
# ---------------------------------------------------------------------------


def hybrid_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` docs per query by Reciprocal Rank Fusion of a LEXICAL
    ranking (count of shared whitespace tokens, tf-free overlap — the
    BM25-lite that needs no global statistics) and a SEMANTIC ranking
    (exact cosine over the embedding column). The standard
    retrieval-fusion shape for corpus exploration: RRF is rank-based, so
    the two scores need no calibration against each other.

    ``queries`` carries (query_id, text, embedding). Scale shape: the
    lexical leg is an exploded token equi-join (shuffle keyed by token —
    never docs x queries); the semantic leg broadcasts the (small) query
    set like brute_force_topk; ranks come from one window per leg keyed
    by query_id; ties break on candidate id for determinism. Fused score
    = sum over legs of 1/(rrf_k + rank), docs absent from a leg simply
    contribute nothing (the RRF convention).
    """
    from pyspark.sql import Window

    from h2outility_spark.operators.text import tokens

    # Blank-text guard: tokens('') is [''] (one empty token), which would
    # let blank docs lexically "match" blank queries — exclude blank rows
    # from the lexical leg entirely (they still rank semantically).
    nonblank = F.length(F.trim(F.col(text_col))) > 0
    d_tok = (
        docs.filter(nonblank)
        .select(F.col(id_col).alias("cand_id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .distinct()
    )
    q_tok = (
        queries.filter(nonblank)
        .select(F.col("query_id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .distinct()
    )
    lex = (
        q_tok.join(d_tok, "tok")
        .groupBy("query_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    lex_rank = lex.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("n_shared"), "cand_id")
        ),
    ).select("query_id", "cand_id", "rank")

    # per-side self-dots (same multiply order as cosine(), bit-identical):
    # one fold per (query, cand) pair in the semantic leg instead of three
    sem = (
        docs.select(F.col(id_col).alias("cand_id"), as_double(F.col(vec_col)).alias("cv"))
        .withColumn("__ncv", dot(F.col("cv"), F.col("cv")))
        .join(
            F.broadcast(
                queries.select("query_id", as_double(F.col(vec_col)).alias("qv")).withColumn(
                    "__nq", dot(F.col("qv"), F.col("qv"))
                )
            )
        )
        .select(
            "query_id",
            "cand_id",
            (dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__nq") * F.col("__ncv"))).alias("cos_sim"),
        )
    )
    sem_rank = sem.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "cand_id")
        ),
    ).select("query_id", "cand_id", "rank")

    rrf = F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank"))
    fused = (
        lex_rank.select("query_id", "cand_id", rrf.alias("contrib"))
        .unionByName(sem_rank.select("query_id", "cand_id", rrf.alias("contrib")))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("contrib").alias("rrf_score"))
    )
    return (
        fused.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), "cand_id")
            ),
        )
        .filter(F.col("rank") <= k)
    )
