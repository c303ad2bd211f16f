"""Deduplication operators for training-data pipelines: exact (hash-groupBy),
MinHash + LSH banding, SimHash, and n-gram Jaccard verification.

Extension surface beyond the reference (its only dedup is the UNIQUE
constraint, SURVEY.md §2.7 U5); designed 100 TB-first:

  * Exact dedup: one shuffle on a 16-byte fingerprint — the canonical
    hash-groupBy. At scale, pre-partition by fingerprint prefix.
  * MinHash: signatures are computed in a single explode→groupBy pass
    (shuffle keyed by doc_id, combiner-friendly ``min`` aggregates).
    Portability trick: each hash is ``substr(md5(shingle || '#' || seed),
    1, 8)`` kept as a HEX STRING — lexicographic min == numeric min for
    fixed-width hex, and md5 is identical in Spark and DuckDB, so the
    DuckDB oracle reproduces signatures exactly.
  * LSH: one band layout, eight one-row bands (band i keyed by mh<i>).
    Candidate pairs come from ONE band-bucket self-join on (band,
    band_key), shared by the MinHash, SimHash and dHash (image) paths —
    the join explodes only within buckets, never O(n²). Buckets are not
    capped: a boilerplate band key with k docs makes k² pairs, so exact
    dedup runs first.
  * Jaccard verify: exact n-gram Jaccard only for candidate pairs, and
    the one near-dup bar (Jaccard >= 0.2) applied inside it.
  * SimHash: 64-bit signature as 16 hex chars via per-bit majority vote,
    computed with portable arithmetic (hex-digit lookup + div/mod) so the
    oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from h2outility_spark.operators.text import WS_CLASS_EXPR, fingerprint, normalize_ws
from h2outility_spark.session import query_cache

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group by content fingerprint; one representative (min id) per group
    plus the group size. ``n_dups > 1`` rows are duplicate clusters."""
    fp = fingerprint(F.col("text")).alias("fp")
    return (
        docs.select(F.col("doc_id"), fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Exploded (id, shingle) pairs; documents with < 3 tokens drop out.

    Formulated as posexplode(tokens) + lead() windows rather than a
    slice-per-position lambda: the lambda form re-evaluates the tokenizer
    split per shingle (O(tokens²) per document — measured 3x slower), while
    this tokenizes once per document and the window's doc-id shuffle is
    reused verbatim by the downstream signature groupBy (no extra
    exchange).
    """
    from pyspark.sql import Window as W

    from h2outility_spark.operators.text import tokens

    toks = docs.select(F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("i", "w")).filter(
        F.length("w") > 0
    )
    w = W.partitionBy("doc_id").orderBy("i")
    parts = [F.col("w")] + [F.lead("w", k).over(w) for k in range(1, 3)]
    return (
        toks.select(F.col("doc_id"), *[p.alias(f"__w{k}") for k, p in enumerate(parts)])
        .filter(F.col("__w2").isNotNull())
        .select(F.col("doc_id"), F.concat_ws(" ", *[F.col(f"__w{k}") for k in range(3)]).alias("shingle"))
    )


def minhash_hash_sql(i: int) -> str:
    """Portable SQL for the i-th minhash hash of a shingle: an 8-hex-char
    slice of md5(shingle || '#' || seed), where one md5 digest (32 hex
    chars) serves FOUR hash functions — 4x fewer md5 evaluations than one
    digest per hash, the dominant cost of signature computation."""
    seed, slot = divmod(i, 4)
    suffix = "" if seed == 0 else f" || '#{seed}'"
    return f"substr(md5(shingle{suffix}), {8 * slot + 1}, 8)"


MINHASH_K = 8


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """One row per doc: mh0..mh7 columns (k = 8 hashes), each the min over
    shingles of an md5-derived 32-bit hex hash (4 hashes per digest, the
    second digest seed-suffixed)."""
    sh = doc_shingles(docs)
    aggs = [F.min(F.expr(minhash_hash_sql(i))).alias(f"mh{i}") for i in range(MINHASH_K)]
    return sh.groupBy("doc_id").agg(*aggs)


def _banded(signatures: DataFrame) -> DataFrame:
    """(id, band, band_key) rows of the one band layout: eight one-row
    bands, band i keyed by ``mh<i>`` itself (never null: every signed doc
    has a shingle). ONE posexplode over the key array — not a per-band
    union, which would re-evaluate the whole signature DAG once per band."""
    return signatures.select(
        F.col("doc_id").alias("id"),
        F.posexplode(F.array(*[F.col(f"mh{i}") for i in range(MINHASH_K)])).alias("band", "band_key"),
    )


def _bucket_pairs(banded: DataFrame) -> DataFrame:
    """The one band-bucket self-join, behind MinHash, SimHash and dHash
    candidates: ``banded`` rows are (id, band, band_key), optionally with a
    ``sig`` column carried to both sides. Returns the distinct (id_a, id_b)
    pairs with id_a < id_b that share a bucket in some band, plus
    (sig_a, sig_b) when ``sig`` is carried. The join explodes only within
    buckets, never O(n²)."""
    cols = ["id"] + (["sig"] if "sig" in banded.columns else [])
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(*[F.col(f"{s}.{c}").alias(f"{c}_{t}") for c in cols for s, t in (("l", "a"), ("r", "b"))])
        .distinct()
    )


def lsh_candidate_pairs_between(sigs_a: DataFrame, sigs_b: DataFrame) -> DataFrame:
    """Candidate pairs ACROSS two signature sets: distinct (id_a, id_b),
    id_a from ``sigs_a`` and id_b from ``sigs_b``, whose band keys collide
    — the incremental-ingest probe of a new batch against the existing
    corpus's band index. At 100 TB the corpus side is a STORED band index
    (signatures are computed once at ingest and kept), so a daily batch
    costs O(batch) signing + one hash join against the index, never a
    corpus re-scan; here both sides are banded from their signatures,
    which is the same plan shape."""
    ba = _banded(sigs_a).withColumnRenamed("id", "id_a")
    bb = _banded(sigs_b).withColumnRenamed("id", "id_b")
    return ba.join(bb, ["band", "band_key"]).select("id_a", "id_b").distinct()


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs, id_a < id_b, whose MinHash
    signatures agree in at least one of the eight one-row bands. No
    bucket-width cap: a boilerplate band key with k members yields its
    k² pairs (run exact dedup first)."""
    return _bucket_pairs(_banded(signatures))


def _shingle_overlap(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """id_a, id_b, n_inter, sz_a and sz_b for the given pairs that share a
    shingle: |A∩B| via a join of the two docs' distinct shingle sets, and
    each doc's set size. Only candidate pairs are touched — the exact
    check never runs O(n²) at scale."""
    sh = doc_shingles(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.withColumnRenamed("doc_id", "id_a")
    b = sh.withColumnRenamed("doc_id", "id_b")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a").join(
        sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b"
    )


def jaccard_for_pairs(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """The near-duplicates among the given (id_a, id_b) pairs: exact 3-gram
    Jaccard |A∩B| / (|A| + |B| − |A∩B|), returned only where it is >= 0.2
    (inclusive, unrounded) — the one near-dup bar of every MinHash chain."""
    inter = F.col("n_inter").cast("double")
    union = (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double")
    return (
        _shingle_overlap(pairs, docs)
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def containment_for_pairs(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact DIRECTED n-gram containment for the given (id_a, id_b) pairs:
    C(a→b) = |A∩B| / |A| and C(b→a) = |A∩B| / |B|.

    The asymmetric complement to Jaccard for SUB-DOCUMENT duplication: a
    short document pasted verbatim into a long one scores a low Jaccard
    (the union is dominated by the long side) but containment ≈ 1 in the
    short→long direction — the measure real pipelines use to catch
    boilerplate inclusion and quote-expansion dups. Same candidates-only
    cost shape as :func:`jaccard_for_pairs`.
    """
    inter = F.col("n_inter").cast("double")
    return _shingle_overlap(pairs, docs).select(
        "id_a",
        "id_b",
        (inter / F.col("sz_a").cast("double")).alias("cont_ab"),
        (inter / F.col("sz_b").cast("double")).alias("cont_ba"),
    )


# ---------------------------------------------------------------------------
# Connected components: near-dup pairs -> dedup clusters
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame) -> DataFrame:
    """Resolve verified near-dup PAIRS into CLUSTERS: (node, cluster_id)
    where cluster_id = min doc id reachable through any chain of pairs —
    the last stage of a real dedup pipeline (A~B and B~C must collapse to
    ONE keeper even when A~C was never emitted as a pair).

    Algorithm: min-label propagation with pointer jumping. Each round
    (1) takes the min label over the node's neighbors and itself (one
    join + combiner-friendly groupBy min, both shuffles keyed by node id),
    then (2) pointer-jumps ``lab = label[label[node]]`` so labels hop
    across whole resolved chains at once. The jump makes convergence
    ~O(log(longest chain)) rounds instead of O(chain length); each round
    is a bounded number of node-keyed shuffles, nothing is ever collected
    to the driver, and ``localCheckpoint`` truncates the per-round lineage
    (the same iterative discipline as operators/kmeans.py). This is the
    alternating-contraction shape of Kiveris et al., "Connected Components
    in MapReduce and Beyond" (SOCC'14), simplified to min-label form.

    Convergence is detected by counting changed labels (a count on a
    |nodes|-sized frame per round — the only driver-visible value), with
    at most 25 rounds.

    Each superseded round's checkpoint, and the edge checkpoint after the
    loop, is released as soon as nothing reads it (``DataFrame.unpersist``
    does not reach a local checkpoint's RDD). The returned round's
    checkpoint is kept — a released local checkpoint cannot be recomputed
    — and is freed by GC once the result is dropped.
    """

    def release(ckpt: DataFrame) -> None:
        ckpt._jdf.logicalPlan().rdd().unpersist(False)

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    edges = edges.localCheckpoint()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn("lab", F.col("node"))
    for round_no in range(25):
        nbr = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("lab")
        )
        stepped = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("lab").alias("lab"))
        )
        jump = stepped.select(F.col("node").alias("__jn"), F.col("lab").alias("__jl"))
        jumped = (
            stepped.join(jump, stepped.lab == jump["__jn"], "left")
            .select("node", F.least(F.col("lab"), F.coalesce("__jl", "lab")).alias("lab"))
            .localCheckpoint()
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        if round_no > 0:  # round 0 read the edge-derived seed labels
            release(labels)
        labels = jumped
        if changed == 0:
            break
    release(edges)
    return labels.select(F.col("node"), F.col("lab").alias("cluster_id"))


def canonical_docs(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Keep one document per near-dup cluster (the min-id member) plus all
    unclustered documents: a broadcastable anti-join against the (tiny
    relative to the corpus) set of non-canonical cluster members."""
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Winnowing (rolling local-min fingerprints; Schleimer et al. 2003 / MOSS)
# ---------------------------------------------------------------------------


_WINNOW_K = 3
_WINNOW_W = 4


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints: hash every word k-gram (k = 3),
    slide a w-wide window (w = 4) over the hash sequence, keep the minimum
    hash of each window — the guaranteed-coverage selection of the
    winnowing paper (any shared run of >= w+k-1 tokens shares at least one
    fingerprint).

    Output: distinct (id, fp) rows; fp is an 8-hex-char md5 slice, so
    lexicographic min == numeric min and DuckDB reproduces it exactly.

    Scale shape: everything through fingerprint selection is a NARROW map
    over per-document arrays (tokenize once into a materialized column,
    then k-gram hash + sliding min as array transforms) — zero shuffles,
    embarrassingly parallel at any corpus size. Documents shorter than k
    tokens contribute nothing; shorter than w+k-1 tokens get one
    fingerprint (the global min), the standard short-document degeneration.
    """
    d = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id"),
        F.expr(f"split(trim(regexp_replace(text, '{WS_CLASS_EXPR}+', ' ')), ' ')").alias("__toks"),
    )
    # guard size < k explicitly: sequence(1, stop) flips to descending when
    # stop < start, which would fabricate bogus window starts
    kgram_hashes = F.expr(
        f"transform(sequence(1, size(__toks) - {_WINNOW_K - 1}), "
        f"i -> substr(md5(array_join(slice(__toks, i, {_WINNOW_K}), ' ')), 1, 8))"
    )
    d = d.select(
        F.col("doc_id"),
        F.when(F.size("__toks") >= _WINNOW_K, kgram_hashes).otherwise(F.expr("array()")).alias("__h"),
    ).filter(F.size("__h") > 0)
    wins = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(__h) - {_WINNOW_W - 1}, 1)), "
        f"i -> array_min(slice(__h, i, {_WINNOW_W}))))"
    )
    return d.select(F.col("doc_id"), F.explode(wins).alias("fp"))


def winnow_neardup_pairs(fps: DataFrame) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: join
    documents on fp (bucketed by fingerprint — the shuffle is keyed by fp,
    never O(n²)), count shared fingerprints per (a < b) pair, keep pairs
    sharing at least 2.

    Same giant-bucket hazard as LSH banding (one boilerplate fingerprint
    shared by m docs makes m² pairs).
    """
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# SimHash (portable 64-bit, emitted as 16 hex chars)
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _bit_of_hex_digit(digit_col_sql: str, bit_in_digit: int) -> str:
    """SQL for bit ``bit_in_digit`` (0 = MSB) of one hex digit, portable
    across Spark SQL and DuckDB: hex-digit value via instr lookup, then
    div/mod arithmetic."""
    val = f"(instr('{_HEX}', {digit_col_sql}) - 1)"
    shift = 3 - bit_in_digit
    return f"(CAST(floor({val} / {2 ** shift}) AS INT) % 2)"


def simhash_bit_vote_sql(bit_index: int) -> str:
    """SQL for the ±1 vote of the token hash ``th`` on one of the 64 signature bits."""
    digit = f"substr(th, {bit_index // 4 + 1}, 1)"
    return f"(2 * {_bit_of_hex_digit(digit, bit_index % 4)} - 1)"


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc as a 16-hex-char string.

    Tokens vote ±1 on each bit of their md5-derived 64-bit hash; the
    signature bit is 1 where the sum is positive. One explode + one
    groupBy(doc) with 64 sum aggregates — combiner-friendly, single
    shuffle keyed by doc id.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(F.split(normalize_ws(F.lower(F.col("text"))), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    hashed = toks.select(F.col("doc_id"), F.expr("substr(md5(encode(tok, 'UTF-8')), 1, 16)").alias("th"))
    votes = [F.expr(simhash_bit_vote_sql(b)).alias(f"v{b}") for b in range(64)]
    voted = hashed.select(F.col("doc_id"), *votes)
    sums = voted.groupBy("doc_id").agg(*[F.sum(f"v{b}").alias(f"s{b}") for b in range(64)])
    # assemble hex: each output digit from 4 bit-majorities
    digit_exprs = []
    for d in range(16):
        bits = [f"(CASE WHEN s{4 * d + i} > 0 THEN {2 ** (3 - i)} ELSE 0 END)" for i in range(4)]
        digit_exprs.append(f"substr('{_HEX}', ({' + '.join(bits)}) + 1, 1)")
    sig = F.expr("concat(" + ", ".join(digit_exprs) + ")").alias("simhash")
    return sums.select(F.col("doc_id"), sig)


def simhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs by SimHash: banded blocking + exact Hamming
    verify — the third dedup family (vs. shingle-set MinHash and
    embedding-cosine RP-LSH), cheapest per doc of the three.

    The 64-bit signature splits into 4 bands of 16 bits; candidates must
    share at least one band verbatim, and pairs within Hamming distance 3
    are kept. This is EXACT by pigeonhole — 3 flipped bits cannot touch all 4 bands — so the
    blocked join provably loses no qualifying pair (the brute-force oracle
    equality in the registry demonstrates it). Shuffle is keyed by
    (band, value): ~4n rows; corpus-wide boilerplate concentrates in hot
    buckets, the same hazard as the MinHash path (run exact dedup first).

    Hamming itself is two 32-bit ``bit_count(a ^ b)`` terms (the hex
    signature parsed in halves — a full 64-bit parse would overflow signed
    BIGINT for high signatures).
    """
    banded = simhash_signatures(docs).select(
        F.col("doc_id").alias("id"),
        F.col("simhash").alias("sig"),
        F.posexplode(
            F.expr("transform(sequence(0, 3), j -> substr(simhash, j*4+1, 4))")
        ).alias("band", "band_key"),
    )

    def half(sig: str, off: int) -> str:
        return f"CAST(conv(substr({sig}, {off}, 8), 16, 10) AS BIGINT)"

    ham = F.expr(
        f"CAST(bit_count({half('sig_a', 1)} ^ {half('sig_b', 1)}) "
        f"+ bit_count({half('sig_a', 9)} ^ {half('sig_b', 9)}) AS INT)"
    )
    return _bucket_pairs(banded).select("id_a", "id_b", ham.alias("hamming")).filter(F.col("hamming") <= 3)


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


def incremental_neardup_filter(batch: DataFrame, existing: DataFrame) -> DataFrame:
    """The daily-ingest shape of dedup: keep only batch docs that are
    neither EXACT duplicates (normalized fingerprint seen in the corpus)
    nor NEAR duplicates (minhash band collision against a corpus doc,
    verified by exact n-gram Jaccard >= 0.2) of the existing corpus.
    Batch and existing id sets must be disjoint. Batch-internal duplicates
    are out of scope here (run the batch through the corpus-wide pipeline
    for that).

    Scale: the exact pass is one anti join keyed by fingerprint. The near
    pass band-joins BATCH signatures against CORPUS signatures — cost is
    |batch| x collision rate, never corpus x corpus; at 100 TB the corpus
    signature/fingerprint tables are precomputed once and appended per
    ingest, so each day pays only its own batch. Returns surviving batch
    rows as (id, fp).
    """
    bfp = batch.select(F.col("doc_id"), F.col("text"), fingerprint(F.col("text")).alias("fp"))
    efp = existing.select(fingerprint(F.col("text")).alias("fp")).distinct()
    # three branches reuse the batch-sized survivors: the signatures, the
    # shingle union and the final anti join
    survivors = query_cache(bfp.join(efp, "fp", "left_anti"))

    # (id_a = corpus doc, id_b = batch doc): the corpus side stays the left
    # side of the band join
    cand = lsh_candidate_pairs_between(minhash_signatures(existing), minhash_signatures(survivors))
    docs_all = existing.select(F.col("doc_id"), F.col("text")).unionByName(
        survivors.select(F.col("doc_id"), F.col("text"))
    )
    drops = jaccard_for_pairs(cand, docs_all).select(F.col("id_b").alias("doc_id")).distinct()
    return survivors.join(drops, "doc_id", "left_anti").select("doc_id", "fp")


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (the "Deduplicating Training Data Makes
# Language Models Better" recipe, window-hashed instead of suffix-arrayed)
# ---------------------------------------------------------------------------


_SPAN_WINDOW = 16


def _span_windows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_id, i, w) token rows and the (doc_id, i, h) md5 of every
    16-token window starting at token i."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators.text import tokens

    toks = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id"), F.posexplode(tokens(F.col("text"))).alias("i", "w"))
    )
    win = W.partitionBy("doc_id").orderBy("i")
    parts = [F.col("w")] + [F.lead("w", k).over(win) for k in range(1, _SPAN_WINDOW)]
    wins = (
        toks.select(F.col("doc_id"), F.col("i"), *[p.alias(f"__w{k}") for k, p in enumerate(parts)])
        .filter(F.col(f"__w{_SPAN_WINDOW - 1}").isNotNull())
        .select(
            F.col("doc_id"),
            F.col("i"),
            F.md5(F.encode(F.concat_ws(" ", *[F.col(f"__w{k}") for k in range(_SPAN_WINDOW)]), "UTF-8")).alias("h"),
        )
    )
    return toks, wins


def duplicated_spans(docs: DataFrame) -> DataFrame:
    """Maximal per-document spans of text whose every 16-token
    substring also occurs elsewhere in the corpus (another doc, or another
    position of the same doc) — the exact-substring-duplication signal
    Lee et al. remove with a suffix array. A window-hash formulation
    distributes better than suffix arrays: any duplicated substring of
    length >= 16 tokens contains only duplicated windows, so the union of
    duplicated windows covers it; consecutive covered positions then merge
    into maximal spans (gaps-and-islands on the position sequence).

    Output: (id, span_start, span_end, span_tokens) per maximal span,
    positions 0-based token indices, end exclusive.

    Scale: |tokens| window rows -> one count-keyed groupBy (combiner
    collapses per-partition repeats) -> a broadcast-or-shuffle semi join
    back, island merge per doc. No suffix sorting, no corpus x corpus.
    """
    from pyspark.sql import Window as W

    _, wins = _span_windows(docs)
    dup_hashes = wins.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2).select("h")
    dup_starts = wins.join(dup_hashes, "h").select("doc_id", "i")
    covered = (
        dup_starts.select(
            F.col("doc_id"), F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(_SPAN_WINDOW - 1))).alias("pos")
        )
        .distinct()
    )
    # gaps-and-islands: consecutive covered positions merge into one span
    wisl = W.partitionBy("doc_id").orderBy("pos")
    islands = covered.withColumn(
        "grp", F.col("pos") - F.row_number().over(wisl)
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("span_end_incl"))
        .select(
            "doc_id",
            F.col("span_start").cast("long"),
            (F.col("span_end_incl") + 1).cast("long").alias("span_end"),
            (F.col("span_end_incl") + 1 - F.col("span_start")).cast("long").alias("span_tokens"),
        )
    )


def remove_duplicated_spans(docs: DataFrame) -> DataFrame:
    """The removal stage on top of duplicated_spans' detection: keep the
    FIRST corpus occurrence (by doc id, then position) of every duplicated
    16-token substring and delete the positions covered by every
    LATER occurrence, then reassemble documents. This is the suffix-dedup
    policy (all-but-one occurrence removed) at window granularity.

    Output: (id, clean_text, n_removed); a fully-duplicated doc
    disappears. Same scale shape as duplicated_spans plus one rank over
    the (tiny) duplicated-window set.
    """
    from pyspark.sql import Window as W

    toks, wins = _span_windows(docs)
    wrank = W.partitionBy("h").orderBy("doc_id", "i")
    later = wins.withColumn("rn", F.row_number().over(wrank)).filter(F.col("rn") > 1)
    covered = (
        later.select(
            F.col("doc_id"), F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(_SPAN_WINDOW - 1))).alias("i")
        )
        .distinct()
    )
    kept = toks.join(covered, ["doc_id", "i"], "left_anti")
    totals = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n_tok"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s["w"]),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        .join(totals, "doc_id")
        .select(
            "doc_id",
            "clean_text",
            (F.col("__n_tok") - F.col("__n_kept")).cast("long").alias("n_removed"),
        )
    )
