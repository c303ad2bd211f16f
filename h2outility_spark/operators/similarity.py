"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star) — brute-force cosine top-k as
the exactness baseline; IVF, PQ and IVF-PQ as the scale paths; RP-LSH as
the near-dup prefilter.

One chain, one implementation per stage:
  * sides — a query side (query_id, qv, __nq) and a candidate side
    (cand_id, cv, __nc), each (id, v as array<double>, v·v) from
    :func:`_side`; every cosine is :func:`_cosine` over the two;
  * probe — :func:`_probe` scores queries against the broadcast packed
    centroids and keeps each query's ``n_probe`` best cells (ivf_search,
    ivfpq_search_cells); ivf_assign_multi ranks the same cell scores;
  * ADC → re-rank — :func:`_adc_rerank` scores candidates against their
    PQ reconstructions, keeps a shortlist and re-scores it exactly
    (pq_search, ivfpq_search_cells);
  * top-k — :func:`_top_k`, the one ``row_number`` window with the
    score-then-id tie-break.

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

from pyspark.sql import Column, DataFrame, Window, functions as F

from h2outility_spark.functions import fround
from h2outility_spark.session import query_cache


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


# The two sides of every cosine join, each (id, v as array<double>, v·v).
_QUERY = ("query_id", "qv", "__nq")
_CAND = ("cand_id", "cv", "__nc")


def _side(frame: DataFrame, role: tuple[str, str, str], id_col: str, vec_col: str, *keep: Column) -> DataFrame:
    """One side of a cosine join: the ``keep`` columns, then (id, v as
    array<double>, v·v) named by ``role``. The self-dot is folded once per
    row, so :func:`_cosine` folds once per pair instead of three times; it
    multiplies the same doubles in the same order as
    dot(a,b)/sqrt(dot(a,a)*dot(b,b)), so scores are bit-identical (the
    wave-1 embedding_knn measurement: −62% on the pair stage)."""
    v = as_double(F.col(vec_col))
    return frame.select(*keep, F.col(id_col).alias(role[0]), v.alias(role[1]), dot(v, v).alias(role[2]))


def _cosine(name: str) -> Column:
    """Cosine of a query-side row and a candidate-side row."""
    return (dot(F.col("qv"), F.col("cv")) / F.sqrt(F.col("__nq") * F.col("__nc"))).alias(name)


def _top_k(df: DataFrame, partition: str | list[str], order: list, k: int) -> DataFrame:
    """The rows ranked <= ``k`` within each ``partition`` group by ``order``,
    rank column dropped. Every ``order`` ends in an id, so ties break on
    it and the kept set is deterministic — the one tie-break rule of the
    top-k windows here."""
    w = Window.partitionBy(partition).orderBy(*order)
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


def brute_force_topk(candidates: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k of every query against all candidates (self-match
    excluded). Queries are broadcast; ranking is a window top-k partitioned
    by query id with a deterministic tie-break on candidate id."""
    q = _side(queries, _QUERY, "vec_id", "embedding")
    c = _side(candidates, _CAND, "vec_id", "embedding")
    scored = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id")).select(
        "query_id", "cand_id", _cosine("cos_sim")
    )
    return _top_k(scored, "query_id", [F.col("cos_sim").desc(), F.col("cand_id")], k)


def centroids_by_label(embeddings: DataFrame) -> DataFrame:
    """Element-wise mean vector per label — the IVF coarse quantizer when a
    clustering (or class label) already exists. posexplode → groupBy
    (label, pos) keeps the agg combiner-friendly at any dimensionality."""
    exploded = embeddings.select(
        F.col("label"), F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    )
    return exploded.groupBy("label", "pos").agg(F.avg("x").alias("centroid_val"))


def pack_vectors(frame: DataFrame, *keys: str) -> DataFrame:
    """(keys, pos, cv) rows → (keys, cvec): each group's components as one
    array in ``pos`` order."""
    return (
        frame.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select(*keys, F.expr("transform(pairs, p -> p.cv)").alias("cvec"))
    )


def pack_centroids(centroids: DataFrame) -> DataFrame:
    """(label, pos, centroid_val) rows → (cell, cvec array<double>).

    Centroid components are rounded (default 6 dp) so that cell-assignment
    comparisons are reproducible across engines — partial-aggregation order
    makes raw averages differ in the last ulp.
    """
    val = fround(F.col("centroid_val"), 6)
    return pack_vectors(centroids.select(F.col("label").alias("cell"), "pos", val.alias("cv")), "cell")


def _cell_sims(q: DataFrame, cells: DataFrame) -> DataFrame:
    """Every query-side row scored against every packed centroid (cell,
    cvec), the centroids broadcast: (query_id, qv, __nq, cell, cell_sim)."""
    c = _side(cells, _CAND, "cell", "cvec")
    return q.join(F.broadcast(c)).select(
        "query_id", "qv", "__nq", F.col("cand_id").alias("cell"), _cosine("cell_sim")
    )


def _probe(q: DataFrame, cells: DataFrame, n_probe: int) -> DataFrame:
    """The IVF cell probe: each query's ``n_probe`` nearest packed cells by
    centroid cosine, ties to the lower cell id — (query_id, qv, __nq, cell)."""
    return _top_k(_cell_sims(q, cells), "query_id", [F.col("cell_sim").desc(), F.col("cell")], n_probe).drop(
        "cell_sim"
    )


def ivf_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 1,
    spill: bool = False,
) -> DataFrame:
    """IVF-style ANN: each query probes its ``n_probe`` nearest centroid
    cells (default 1); exact cosine top-k within the probed cells (the
    probed union is exactly re-ranked — there is no approximate scoring
    stage to tune separately).

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
    q = _side(queries, _QUERY, "vec_id", "embedding")
    best = _probe(q, pack_centroids(centroids_by_label(embeddings)), n_probe)
    cands = _side(embeddings, _CAND, "vec_id", "embedding", F.col("label").alias("cell"))
    scored = (
        cands.join(F.broadcast(best), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _cosine("cos_sim"))
    )
    if spill:
        scored = scored.groupBy("query_id", "cand_id").agg(F.max("cos_sim").alias("cos_sim"))
    return _top_k(scored, "query_id", [F.col("cos_sim").desc(), F.col("cand_id")], k)


def ivf_assign_multi(
    embeddings: DataFrame,
    centroids: DataFrame,
    m: int = 2,
    ratio: float | None = None,
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
    fixed-m wins outright. ``m=1`` without ``ratio`` is the plain
    nearest-cell assignment.
    """
    cells = pack_vectors(
        centroids.select(F.col("label").alias("cell"), "pos", F.col("centroid_val").alias("cv")), "cell"
    )
    scored = _cell_sims(_side(embeddings, _QUERY, "vec_id", "embedding"), cells).select(
        F.col("query_id").alias("vec_id"), "cell", "cell_sim"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), F.col("cell"))
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= m)
    if ratio is not None:
        best = F.max(F.when(F.col("rk") == 1, F.col("cell_sim"))).over(Window.partitionBy("vec_id"))
        ranked = ranked.withColumn("best_sim", best).filter(
            (F.col("rk") == 1) | ((1 - F.col("cell_sim")) <= F.lit(ratio) * (1 - F.col("best_sim")))
        )
    return ranked.select("vec_id", "cell")


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


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with cosine ≥
    threshold.

    This is the exact O(n²) verifier, run as a broadcast nested-loop join
    (one side broadcast, candidates streamed). At corpus scale it is never
    run globally — candidates come from an LSH/IVF prefilter
    (rp_lsh_signatures / ivf cells) and this join verifies within buckets,
    exactly like the minhash→jaccard two-stage in dedup.py."""
    v = as_double(F.col("embedding"))
    a = embeddings.select(F.col("vec_id").alias("id_a"), v.alias("va"), dot(v, v).alias("__na"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), v.alias("vb"), dot(v, v).alias("__nb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    # dot(a,b)/sqrt(na*nb) is the same IEEE arithmetic as
    # dot(a,b)/sqrt(dot(a,a)*dot(b,b)) with the self-dots precomputed per
    # SIDE (n of them) instead of per PAIR (n²)
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("__na") * F.col("__nb"))
    return pairs.select("id_a", "id_b", sim.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def random_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — plain Python
    constants, so the SAME numbers can be inlined into the DuckDB oracle
    (no cross-engine randomness)."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"h{j}_{d}".encode()).hexdigest()
            row.append(int(h[:2], 16) - 127.5)
        planes.append(row)
    return planes


def rp_lsh_signatures(embeddings: DataFrame, n_planes: int = 16) -> DataFrame:
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
    planes = random_hyperplanes(n_planes, 64)
    sig = rp_sig_udf(planes)
    return embeddings.select(F.col("vec_id"), sig(F.col("embedding")).alias("rp_sig"))


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


def auto_n_bits(n_rows: int) -> int:
    """Signature width that HOLDS random-bucket occupancy as data grows:
    bits = ceil(log2(n / 32)), so doubling the corpus adds
    exactly one bit (ceil(log2(2x)) = ceil(log2(x)) + 1) and the expected
    occupancy of a random band bucket stays ~32. This turns the
    operator contract "fixed-bit LSH config must grow ~log2(n) with data"
    (bench.py 100x notes) into engine behavior instead of a caveat the
    caller must remember at 100 TB."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_rows / 32))))


def rp_lsh_candidate_pairs(
    embeddings: DataFrame,
    n_bits: int | None = 4,
    n_bands: int = 32,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from an RP-LSH banded self-join.

    The full (n_bits*n_bands)-bit signature is computed in one vectorized
    pass (narrow map, no shuffle) and folded into ONE INT64 key per band
    (band index in the high bits — :func:`rp_band_udf`); one explode emits
    the band rows; the self-join on the folded key explodes only within
    buckets — the shuffle is keyed by it, so hot buckets are the only
    skew hazard: a corpus with a degenerate direction (many near-identical
    vectors) makes one bucket k-wide and its pairs k².

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
    """
    if n_bits is None:
        n_bits = auto_n_bits(n_rows if n_rows is not None else embeddings.count())
    planes = random_hyperplanes(n_bits * n_bands, 64)
    bu = rp_band_udf(planes, n_bits, n_bands)
    banded = embeddings.select(F.col("vec_id"), F.explode(bu(F.col("embedding"))).alias("bkey"))
    # Both sides of the self-join consume this frame; without the persist each consumer re-runs the whole signature
    # pipeline — embeddings scan + Arrow matmul + explode — from scratch.
    # The banded rows are narrow ((id, long): 16 bytes x n_bands per
    # vector) and MEMORY_AND_DISK spills, so the reuse trades a bounded
    # materialization for a second full signature pass (measured -13% on
    # both registered LSH queries, non-overlapping ABBA samples on the
    # strict pair; r14 #9).
    banded = query_cache(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bkey") == F.col("r.bkey")) & (F.col(f"l.vec_id") < F.col(f"r.vec_id")),
        )
        .select(F.col(f"l.vec_id").alias("id_a"), F.col(f"r.vec_id").alias("id_b"))
        .distinct()
    )


def cosine_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    n_bits: int | None = 4,
    n_bands: int = 32,
    n_rows: int | None = None,
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
    cand = rp_lsh_candidate_pairs(embeddings, n_bits, n_bands, n_rows=n_rows)
    v = as_double(F.col("embedding"))
    # self-dots precomputed per side (n folds, not one per pair); the pair
    # expression dot(a,b)/sqrt(na*nb) is the same IEEE arithmetic as
    # dot(a,b)/sqrt(dot(a,a)*dot(b,b)), so values stay bit-identical to the
    # brute-force oracle
    a = embeddings.select(
        F.col("vec_id").alias("id_a"), v.alias("va"), dot(v, v).alias("na")
    )
    b = embeddings.select(
        F.col("vec_id").alias("id_b"), v.alias("vb"), dot(v, v).alias("nb")
    )
    sim = dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN
# ---------------------------------------------------------------------------


def pq_codebooks(embeddings: DataFrame, m: int = 8) -> DataFrame:
    """Product-quantizer codebooks: the 64-d space is split into ``m``
    contiguous subspaces of width 64/m; subspace ``s``'s codebook entry for
    each label is the corresponding SLICE of the per-label mean vector
    (components rounded 6 dp for engine-stable argmin, exactly like
    pack_centroids). Output: (s, code, cvec).

    Labels stand in for a per-subspace k-means here (same substitution the
    IVF coarse quantizer makes); the PQ property — codes combine
    independently across subspaces, so m log2(k)-bit codes address k^m
    reconstruction points — holds regardless of how the codebook was
    trained.
    """
    full = pack_centroids(centroids_by_label(embeddings))
    return full.select(F.col("cell").alias("code"), _slices("cvec", m).alias("s", "cvec")).select(
        "s", "code", "cvec"
    )


def _slices(vec_sql: str, m: int) -> Column:
    """posexplode of the ``m`` contiguous width-64/m slices of ``vec_sql``."""
    w = 64 // m
    return F.posexplode(F.expr(f"transform(sequence(0, {m - 1}), s -> slice({vec_sql}, s * {w} + 1, {w}))"))


def _split(embeddings: DataFrame, m: int) -> DataFrame:
    """(vec_id, s, vs) rows: each vector's ``m`` subspace slices as
    array<double>, the rows both the encoder and the k-means trainer read."""
    return embeddings.select("vec_id", _slices("CAST(embedding AS ARRAY<DOUBLE>)", m).alias("s", "vs"))


def pq_encode(embeddings: DataFrame, codebooks: DataFrame, m: int = 8) -> DataFrame:
    """Assign every vector, per subspace, to its nearest codebook entry by
    squared L2 (computed as c·c − 2·v·c, the v·v term constant per row;
    sequential fold so the oracle's list_inner_product agrees bit-for-bit).
    Output: (id, s, code) — at scale this is the 32x-compressed
    representation that replaces the float vectors in the scan.

    Codebooks are broadcast; the argmin is a top-1 over (id, s) — each
    window partition holds exactly k candidate rows.
    """
    scored = _split(embeddings, m).join(F.broadcast(codebooks), "s").select(
        "vec_id",
        "s",
        "code",
        (dot(F.col("cvec"), F.col("cvec")) - F.lit(2.0) * dot(F.col("vs"), F.col("cvec"))).alias("d2"),
    )
    return _top_k(scored, ["vec_id", "s"], [F.col("d2"), F.col("code")], 1).select("vec_id", "s", "code")


def pq_reconstruct(codes: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Rebuild the quantized vector: concatenate each subspace's codebook
    entry in subspace order. Scoring against the reconstruction is
    mathematically identical to LUT-based ADC (the LUT is the same sum,
    precomputed per query); the reconstruction form keeps every score a
    single sequential fold, which the DuckDB oracle reproduces exactly."""
    return (
        codes.join(F.broadcast(codebooks), ["s", "code"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cvec"))),
                    lambda p: p["cvec"],
                )
            ).alias("rvec")
        )
    )


def _adc_rerank(pairs: DataFrame, embeddings: DataFrame, shortlist: int, k: int) -> DataFrame:
    """The PQ tail: ADC score, shortlist, exact re-rank. ``pairs`` holds each
    query side joined to its candidates' PQ reconstructions (a candidate
    side whose ``cv`` is the reconstruction). The ``shortlist`` best by
    that approximate cosine per query are re-scored against their raw
    vectors, and the top ``k`` kept: (query_id, cand_id, cos_sim)."""
    adc = pairs.select("query_id", "qv", "__nq", "cand_id", _cosine("asim"))
    short = _top_k(adc, "query_id", [F.col("asim").desc(), F.col("cand_id")], shortlist).drop("asim")
    exact = short.join(_side(embeddings, _CAND, "vec_id", "embedding"), "cand_id").select(
        "query_id", "cand_id", _cosine("cos_sim")
    )
    return _top_k(exact, "query_id", [F.col("cos_sim").desc(), F.col("cand_id")], k)


def _reconstructed(embeddings: DataFrame, codebooks: DataFrame, m: int) -> DataFrame:
    """The candidate side of the ADC scan: every vector's PQ reconstruction."""
    return _side(pq_reconstruct(pq_encode(embeddings, codebooks, m=m), codebooks), _CAND, "vec_id", "rvec")


def pq_search(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    shortlist: int = 50,
    m: int = 8,
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
    cbs = codebooks if codebooks is not None else pq_codebooks(embeddings, m=m)
    q = _side(queries, _QUERY, "vec_id", "embedding")
    pairs = _reconstructed(embeddings, cbs, m).join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
    return _adc_rerank(pairs, embeddings, shortlist, k)


def pq_codebooks_kmeans(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
    round_dp: int | None = None,
) -> DataFrame:
    """Production PQ codebooks: an independent k-means per subspace over
    that subspace's slices (the FAISS training recipe). m runs of Lloyd's
    over 64/m-dim data; each model is k x 64/m doubles on the driver — at
    100 TB you train on a deterministic sample, the codebook stays tiny
    either way. Output (s, code, cvec) matches pq_codebooks, so encode /
    reconstruct / search compose with either quantizer."""
    from h2outility_spark.operators.kmeans import kmeans_grouped

    # All m subspace k-means runs ride ONE pipeline per Lloyd iteration
    # (kmeans_grouped): 2 + max_iter collect-jobs total instead of
    # m * (1 + max_iter) — the driver round-trip count no longer grows
    # with m (measured ~4x end-to-end on the pq_* queries).
    cents = kmeans_grouped(_split(embeddings, m), k=k, max_iter=max_iter)
    val = F.col("centroid_val") if round_dp is None else fround(F.col("centroid_val"), round_dp)
    return pack_vectors(cents.select("s", F.col("cluster").alias("code"), "pos", val.alias("cv")), "s", "code")


def ivfpq_search(embeddings: DataFrame, queries: DataFrame) -> DataFrame:
    """The composed IVF-PQ layering over label cells and label codebooks:
    :func:`ivfpq_search_cells` with ``embeddings`` as its own cell layout
    and :func:`pq_codebooks` as the quantizer."""
    return ivfpq_search_cells(embeddings, embeddings, queries, pq_codebooks(embeddings))


def ivfpq_search_cells(
    embeddings: DataFrame, cells: DataFrame, queries: DataFrame, codebooks: DataFrame
) -> DataFrame:
    """IVF-PQ over a given cell layout: the coarse quantizer (cells) prunes
    WHICH vectors are scanned, PQ codes compress WHAT the scan reads, the
    exact re-rank repairs ranking error on the shortlist.

    ``cells`` is (vec_id, embedding, label) with label the cell; it may
    carry spill copies (several cells per vector). Per query: the shared
    cell probe picks the 2 nearest of the cells' centroids (rounded
    6 dp); the probed cells' candidates are deduped per (query, cand), so
    a spilled vector is scored once; ADC scores them against their
    reconstructions under ``codebooks`` (m=8); the top 30 are exact
    re-ranked and the top 3 emitted. At 100 TB the candidate table is
    partitioned by cell and stores (id, codes) — probing is partition
    pruning and the scan reads 32x fewer bytes; FAISS's IVFADC, as
    DataFrame ops.
    """
    q = _side(queries, _QUERY, "vec_id", "embedding")
    best = _probe(q, pack_centroids(centroids_by_label(cells)), 2).select("query_id", "cell")
    cand = (
        cells.select(F.col("vec_id").alias("cand_id"), F.col("label").alias("cell"))
        .join(F.broadcast(best), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    pairs = cand.join(q, "query_id").join(_reconstructed(embeddings, codebooks, 8), "cand_id")
    return _adc_rerank(pairs, embeddings, 30, 3)


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + semantic rankings fused with RRF
# ---------------------------------------------------------------------------


def hybrid_search(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-10 docs per query by Reciprocal Rank Fusion of a LEXICAL
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
    = sum over legs of 1/(60 + rank), docs absent from a leg simply
    contribute nothing (the RRF convention).
    """
    from h2outility_spark.operators.text import tokens

    # Blank-text guard: tokens('') is [''] (one empty token), which would
    # let blank docs lexically "match" blank queries — exclude blank rows
    # from the lexical leg entirely (they still rank semantically).
    nonblank = F.length(F.trim(F.col("text"))) > 0
    d_tok = (
        docs.filter(nonblank)
        .select(F.col("doc_id").alias("cand_id"), F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    q_tok = (
        queries.filter(nonblank)
        .select(F.col("query_id"), F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    lex = (
        q_tok.join(d_tok, "tok")
        .groupBy("query_id", "cand_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

    # every rank feeds the fusion (and the output carries it), so the legs
    # keep this window instead of a top-k
    def ranked(df: DataFrame, score: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(F.desc(score), "cand_id")
        return df.withColumn("rank", F.row_number().over(w))

    lex_rank = ranked(lex, "n_shared").select("query_id", "cand_id", "rank")

    sem = (
        _side(docs, _CAND, "doc_id", "embedding")
        .join(F.broadcast(_side(queries, _QUERY, "query_id", "embedding")))
        .select("query_id", "cand_id", _cosine("cos_sim"))
    )
    sem_rank = ranked(sem, "cos_sim").select("query_id", "cand_id", "rank")

    rrf = F.lit(1.0) / (F.lit(60.0) + F.col("rank"))
    fused = (
        lex_rank.select("query_id", "cand_id", rrf.alias("contrib"))
        .unionByName(sem_rank.select("query_id", "cand_id", rrf.alias("contrib")))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("contrib").alias("rrf_score"))
    )
    return ranked(fused, "rrf_score").filter(F.col("rank") <= 10)
