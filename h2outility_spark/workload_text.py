"""Text and corpus family of the LLM-data pipeline: text analysis, n-gram
and vocabulary statistics, exact and near-duplicate detection (MinHash,
SimHash, winnowing, containment), quality filtering and calibration,
chunking and packing, splits, samples and source-mixture planning — each
with a DuckDB oracle (these extend the reference, which has no text
surface).

Portability notes: md5 is identical in Spark and DuckDB (the minhash /
simhash / fingerprint trick); fixed-width hex strings compare like the
integers they encode; shingling is the same normalize→split→slice pipeline
on both sides; DuckDB needs the 'g' flag on regexp_replace to match Spark's
replace-all.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators import dedup, text
from h2outility_spark.operators.dedup import MINHASH_K
from h2outility_spark.operators.text import token_count
from h2outility_spark.session import query_cache
from h2outility_spark.workload import _t, query, sql_round


# Shared oracle CTE fragments (parameterizable by source table so the same
# shingle/minhash pipeline can run over `documents` or a filtered CTE) -------


def toks_cte(src: str = "documents") -> str:
    return f"""
    toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w,
             generate_subscripts(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), 1) AS i
      FROM {src}
      WHERE length(trim(text)) > 0
    )
"""


def sh_cte(src: str = "documents") -> str:
    return (
        toks_cte(src)
        + """,
    sh AS (
      SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    )
"""
    )


TOKS_CTE = toks_cte()
SH_CTE = sh_cte()


def mh_cte(src: str = "documents") -> str:
    return (
        sh_cte(src)
        + """,
    mh AS (
      SELECT doc_id, """
        + ", ".join(f"min({dedup.minhash_hash_sql(i)}) AS mh{i}" for i in range(MINHASH_K))
        + """
      FROM sh GROUP BY doc_id
    )
"""
    )


MH_CTE = mh_cte()


# cand -> verified jpairs (id_a, id_b) as a CTE chain (the CTE form of
# JACCARD_TAIL, for oracles that consume the pairs downstream).
JPAIRS_CTE = """
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN dsh s1 ON s1.doc_id = c.id_a
      JOIN dsh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(ni AS DOUBLE) / CAST(sa.sz + sb.sz - ni AS DOUBLE) >= 0.2
    )
"""


MH_CAND_CTE = """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND (""" + " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(MINHASH_K)) + """)
    ),
"""


# jpairs -> connected components via transitive closure; `reach` is the
# recursive min-label closure (UNION dedups, so it terminates).
CLUSTERS_CTE = """,
    edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
              UNION ALL
              SELECT id_b AS src, id_a AS dst FROM jpairs),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY 1)
"""


# Distinct shingles + set sizes + exact jaccard for a `cand` (id_a, id_b) CTE.
JACCARD_TAIL = """
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN dsh s1 ON s1.doc_id = c.id_a
      JOIN dsh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           floor((CAST(ni AS DOUBLE) / CAST(sa.sz + sb.sz - ni AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(ni AS DOUBLE) / CAST(sa.sz + sb.sz - ni AS DOUBLE) >= 0.2
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "text_stats",
    oracle="SELECT doc_id, " + text.quality_sql_columns() + " FROM documents",
    description="Text quality scoring: char/token counts (whitespace + BPE-ish), alpha/digit/space ratios",
    bench=True,
)
def q_text_stats(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select("doc_id", *text.quality_columns())


@query(
    "text_langid",
    oracle="SELECT doc_id, " + text.langid_sql_columns() + " FROM documents",
    description="Language ID: marker-word occurrence scores per language + argmax prediction",
)
def q_text_langid(spark, sf_dir):
    scored = _t(spark, sf_dir, "documents").select("doc_id", *text.langid_score_columns())
    return scored.withColumn("pred_lang", text.langid_pred_column())


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS fp,
           md5(lower(array_to_string(list_slice(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), 1, 8), ' '))) AS prefix_fp
    FROM documents
    """,
    description="Document fingerprinting: md5 of normalized text + 8-token prefix fingerprint",
)
def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fp"),
        text.prefix_fingerprint().alias("prefix_fp"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics (LM counts / vocab)
# ---------------------------------------------------------------------------

@query(
    "ngram_counts",
    oracle="WITH "
    + SH_CTE
    + """
    SELECT shingle AS ngram, CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM sh GROUP BY 1 HAVING count(*) >= 2
    """,
    description=(
        "Corpus trigram occurrence + document-frequency counts (>= 2 occurrences): narrow-map "
        "array n-grams, one combiner-friendly shuffle keyed by ngram — LM count collection"
    ),
)
def q_ngram_counts(spark, sf_dir):
    return text.corpus_ngram_counts(_t(spark, sf_dir, "documents"))


@query(
    "vocab_topk",
    oracle="WITH "
    + TOKS_CTE
    + """,
    c AS (SELECT w AS token, CAST(count(*) AS BIGINT) AS n_occ FROM toks GROUP BY 1)
    SELECT token, n_occ, CAST(rk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY n_occ DESC, token) AS rk FROM c)
    WHERE rk <= 100
    """,
    description=(
        "Vocabulary building: top-100 tokens by corpus frequency with deterministic rank — "
        "global top-k runs on the aggregated count table, and the rank window only on the "
        "100 surviving rows (never a single-reducer pass over the vocab)"
    ),
)
def q_vocab_topk(spark, sf_dir):
    from pyspark.sql import Window as W

    toks = _t(spark, sf_dir, "documents").select(F.explode(text.shingles_expr(1)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
    top = counts.orderBy(F.col("n_occ").desc(), "token").limit(100)
    w = W.orderBy(F.col("n_occ").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w))


@query(
    "bigram_condprob",
    oracle="WITH "
    + TOKS_CTE
    + """,
    uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY 1),
    big AS (SELECT a.w AS w1, a.w || ' ' || b.w AS bigram, count(*) AS c12
            FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
            GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT bigram, CAST(c12 AS BIGINT) AS c12,
           floor((CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS p
    FROM big JOIN uni USING (w1)
    """,
    description=(
        "Maximum-likelihood bigram LM: P(w2|w1) = c(w1,w2)/c(w1) for pairs seen >= 3 times — "
        "two count aggregations joined on w1 (count tables, not token positions)"
    ),
)
def q_bigram_condprob(spark, sf_dir):
    out = text.bigram_conditional_probs(_t(spark, sf_dir, "documents"), min_pair=3)
    return out.select("bigram", "c12", fround(F.col("p"), 6).alias("p"))


@query(
    "doc_lm_score",
    oracle="WITH "
    + TOKS_CTE
    + """,
    uni AS (SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY 1),
    big AS (SELECT a.w AS w1, a.w || ' ' || b.w AS bigram, count(*) AS c12
            FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
            GROUP BY 1, 2),
    bp AS (SELECT bigram, CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
           FROM big JOIN uni USING (w1)),
    db AS (SELECT a.doc_id, a.w || ' ' || b.w AS bigram
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((avg(p)) * 1000000.0 + 0.5) / 1000000.0 AS lm_score
    FROM db JOIN bp USING (bigram)
    GROUP BY 1
    """,
    description=(
        "Model-based quality score: mean corpus-bigram conditional probability per "
        "document (MLE self-scoring) — the LM fluency dial next to the surface-ratio "
        "heuristics of text_stats; score-only join against the count-ratio model table"
    ),
)
def q_doc_lm_score(spark, sf_dir):
    out = text.doc_lm_fluency(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_bigrams", fround(F.col("lm_score"), 6).alias("lm_score"))


@query(
    "contamination_overlap",
    oracle="WITH "
    + sh_cte()
    + """,
    bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
    cand AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 37 <> 0)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM cand JOIN bs USING (shingle)
    GROUP BY 1
    """,
    description=(
        "Train/benchmark decontamination: distinct 3-gram overlap count of every "
        "training doc against the benchmark partition (doc_id % 37 = 0) — "
        "distinct-gram sets joined, never token positions"
    ),
)
def q_contamination_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return text.contamination_overlap(train, bench)


@query(
    "hash_sample_docs",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS INT) AS bucket
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT < (65536 * 15) // 100
    """,
    description=(
        "Deterministic 15% hash sample: md5-bucket on the id, no RNG state — "
        "reproducible across runs/engines/partitionings; the stratified-sampling "
        "primitive (per-stratum rates compose from the same bucket column)"
    ),
)
def q_hash_sample_docs(spark, sf_dir):
    out = text.hash_sample(_t(spark, sf_dir, "documents"), percent=15)
    bucket = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT)")
    return out.select("doc_id", bucket.alias("bucket"))


@query(
    "pack_sequences",
    # Engine-proof tokenization (round-4/5 driver red root-caused to
    # regex-split divergence): one canonical normalization with an EXPLICIT
    # whitespace class (never '\s' — Java regex and RE2 define it
    # differently), then tokens = spaces + 1 by pure length arithmetic.
    # No regexp_split / array_length anywhere, and every output column is
    # explicitly CAST (DuckDB's window sum would otherwise be HUGEINT).
    oracle="""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS x
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             CAST(CASE WHEN length(x) = 0 THEN 0
                  ELSE length(x) - length(replace(x, ' ', '')) + 1 END AS BIGINT) AS n_tokens
      FROM norm
    ),
    pre AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
      FROM toks
    )
    SELECT CAST(prefix // 2048 AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM pre
    GROUP BY 1
    """,
    description=(
        "Training-sequence packing plan: docs in id order assigned to 2048-token "
        "context bins by exclusive prefix sum (streaming greedy packing); integer "
        "arithmetic end to end, token counts by engine-proof spaces+1 length "
        "arithmetic over an explicit whitespace class"
    ),
)
def q_pack_sequences(spark, sf_dir):
    return text.pack_sequences(_t(spark, sf_dir, "documents"), budget_tokens=2048)


@query(
    "tfidf_top_terms",
    oracle="WITH "
    + TOKS_CTE
    + """,
    tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             floor((CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)))
                   * 1000000.0 + 0.5) / 1000000.0 AS tfidf
      FROM tf JOIN dfc USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf,
           CAST(rk AS INT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    description=(
        "Top-3 characteristic terms per doc by tf*ln(N/df) — count-table joins only; "
        "ranked on the 6-dp-ROUNDED score so cross-engine ln() ulp drift cannot "
        "reorder the top-k (near-ties become exact ties, broken by term)"
    ),
)
def q_tfidf_top_terms(spark, sf_dir):
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_docs",
    bench=True,
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS fp,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    description="Exact dedup via hash-groupBy on the content fingerprint (keep min id per group)",
)
def q_dedup_exact_docs(spark, sf_dir):
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@query(
    "minhash_signatures",
    oracle="WITH "
    + MH_CTE
    + "SELECT doc_id, "
    + ", ".join(f"mh{i}" for i in range(MINHASH_K))
    + " FROM mh",
    description="MinHash signatures (8 md5-derived permutations over 3-gram shingles)",
    bench=True,
)
def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_t(spark, sf_dir, "documents"))


@query(
    "neardup_minhash_pairs",
    bench=True,
    oracle="WITH "
    + MH_CTE
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mh a JOIN mh b
        ON a.doc_id < b.doc_id
       AND ("""
    + " OR ".join(f"a.mh{i} = b.mh{i}" for i in range(MINHASH_K))
    + """)
    ),
"""
    + JACCARD_TAIL,
    description=(
        "Near-dup detection: MinHash-LSH candidate pairs (8 one-row bands) verified by "
        "exact 3-gram Jaccard >= 0.2"
    ),
)
def q_neardup_minhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # signatures feed the self-join twice and jaccard reuses the shingles —
    # cache the small intermediates instead of re-deriving them per branch
    sigs = query_cache(dedup.minhash_signatures(docs))
    pairs = dedup.lsh_candidate_pairs(sigs)
    return dedup.jaccard_for_pairs(pairs, docs).select(
        "id_a", "id_b", fround(F.col("jaccard"), 4).alias("jaccard")
    )


@query(
    "neardup_clusters",
    oracle="WITH RECURSIVE "
    + MH_CTE
    + MH_CAND_CTE
    + JPAIRS_CTE
    + CLUSTERS_CTE
    + "SELECT node, cluster_id FROM clusters",
    description=(
        "Near-dup cluster resolution: MinHash-LSH pairs (Jaccard-verified >= 0.2) collapsed "
        "into connected components via pointer-jumping min-label propagation — A~B~C becomes "
        "ONE cluster even when A~C was never a pair; oracle is a recursive-CTE closure"
    ),
)
def q_neardup_clusters(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = query_cache(dedup.minhash_signatures(docs))
    pairs = dedup.lsh_candidate_pairs(sigs)
    return dedup.connected_components(dedup.jaccard_for_pairs(pairs, docs))


_N_TOKENS_SQL = (
    "CASE WHEN length(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) = 0 THEN 0 "
    "ELSE array_length(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) END"
)


_ALPHA_RATIO_SQL = (
    "coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) "
    "/ (CASE WHEN length(text) > 0 THEN CAST(length(text) AS DOUBLE) END), 0.0)"
)


@query(
    "corpus_clean",
    bench=True,
    oracle="WITH RECURSIVE "
    + f"""
    q AS (SELECT doc_id, text FROM documents
          WHERE ({_N_TOKENS_SQL}) >= 25 AND ({_ALPHA_RATIO_SQL}) >= 0.8),
    g AS (SELECT md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS fp,
                 min(doc_id) AS keep_id
          FROM q GROUP BY 1),
    kept AS (SELECT q.doc_id, q.text FROM q JOIN g ON q.doc_id = g.keep_id),
"""
    + mh_cte("kept").lstrip()
    + MH_CAND_CTE
    + JPAIRS_CTE
    + CLUSTERS_CTE
    + f"""
    SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens
    FROM kept
    WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)
""",
    description=(
        "End-to-end corpus cleaning flagship: quality filter (>=25 tokens, alpha ratio >=0.8) "
        "-> exact dedup (keep min id per content fingerprint) -> MinHash-LSH near-dup clusters "
        "-> keep one canonical doc per cluster. Every stage is the scale-path operator"
    ),
)
def q_corpus_clean(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text", *text.quality_columns())
    q = scored.filter((F.col("n_tokens") >= 25) & (F.col("alpha_ratio") >= 0.8)).select(
        "doc_id", "text", "n_tokens"
    )
    groups = dedup.exact_dedup_groups(q)
    kept = query_cache(
        q.join(groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
    )
    sigs = dedup.minhash_signatures(kept)
    pairs = dedup.lsh_candidate_pairs(sigs)
    clusters = dedup.connected_components(dedup.jaccard_for_pairs(pairs, kept))
    return dedup.canonical_docs(kept, clusters).select("doc_id", "n_tokens")


@query(
    "ngram_jaccard_blocked",
    oracle="WITH "
    + SH_CTE
    + """,
    cand AS (
      SELECT d1.doc_id AS id_a, d2.doc_id AS id_b
      FROM documents d1
      JOIN documents d2
        ON d1.lang = d2.lang AND d1.source = d2.source AND d1.doc_id < d2.doc_id
    ),
"""
    + JACCARD_TAIL,
    description=(
        "n-gram Jaccard dedup with (lang, source) blocking: exact 3-gram Jaccard >= 0.2 "
        "within each block"
    ),
)
def q_ngram_jaccard_blocked(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    d1 = docs.select(F.col("doc_id").alias("id_a"), "lang", "source")
    d2 = docs.select(F.col("doc_id").alias("id_b"), "lang", "source")
    pairs = d1.join(d2, ["lang", "source"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return dedup.jaccard_for_pairs(pairs, docs).select(
        "id_a", "id_b", fround(F.col("jaccard"), 4).alias("jaccard")
    )


# Winnowing: hash positions matter, so this CTE keeps the shingle index.
# Window starts are shingle positions 1..max(n-w+1, 1); the min-hash of each
# w-window (ROWS frame clamps at the partition end) is a fingerprint.
_WINNOW_W = 4

WINNOW_CTE = (
    TOKS_CTE
    + f""",
    shp AS (
      SELECT a.doc_id, a.i, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    h AS (SELECT doc_id, i, substr(md5(shingle), 1, 8) AS hv FROM shp),
    wins AS (
      SELECT doc_id, i,
             min(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM h
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i <= greatest(n - {_WINNOW_W - 1}, 1))
"""
)


@query(
    "winnow_fingerprints",
    oracle="WITH " + WINNOW_CTE + "SELECT doc_id, fp FROM fps",
    description=(
        "Winnowing fingerprints (Schleimer/MOSS): sliding min over 3-gram hashes, window 4 — "
        "guaranteed-coverage robust near-dup fingerprints, all narrow-map array ops"
    ),
)
def q_winnow_fingerprints(spark, sf_dir):
    return dedup.winnow_fingerprints(_t(spark, sf_dir, "documents"))


@query(
    "neardup_winnow_pairs",
    oracle="WITH "
    + WINNOW_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
    description=(
        "Near-dup pairs sharing >= 2 winnowing fingerprints — fingerprint-bucketed join "
        "(shuffle keyed by fp, never all-pairs), the rolling-hash robust complement to MinHash"
    ),
)
def q_neardup_winnow_pairs(spark, sf_dir):
    # both sides of the fp self-join reuse one materialization of the
    # fingerprint pipeline instead of re-tokenizing the corpus twice
    fps = query_cache(dedup.winnow_fingerprints(_t(spark, sf_dir, "documents")))
    return dedup.winnow_neardup_pairs(fps)


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"{dedup.simhash_bit_vote_sql(b)} AS v{b}" for b in range(64)
    )
    sums = ", ".join(f"sum(v{b}) AS s{b}" for b in range(64))
    digits = []
    for d in range(16):
        bits = [f"(CASE WHEN s{4 * d + i} > 0 THEN {2 ** (3 - i)} ELSE 0 END)" for i in range(4)]
        digits.append(f"substr('0123456789abcdef', ({' + '.join(bits)}) + 1, 1)")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS th FROM toks WHERE length(tok) > 0),
    v AS (SELECT doc_id, {votes} FROM h),
    s AS (SELECT doc_id, {sums} FROM v GROUP BY doc_id)
    SELECT doc_id, concat({", ".join(digits)}) AS simhash FROM s
    """


@query(
    "simhash_signatures",
    oracle=_simhash_oracle(),
    description="SimHash: 64-bit per-bit majority-vote signature over token hashes, as 16 hex chars",
)
def q_simhash_signatures(spark, sf_dir):
    return dedup.simhash_signatures(_t(spark, sf_dir, "documents"))


@query(
    "neardup_simhash_pairs",
    oracle=f"""
    WITH sigs AS ({_simhash_oracle()})
    SELECT id_a, id_b, CAST(ham AS INT) AS hamming
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(('0x' || substr(a.simhash, 1, 8))::BIGINT,
                           ('0x' || substr(b.simhash, 1, 8))::BIGINT))
           + bit_count(xor(('0x' || substr(a.simhash, 9, 8))::BIGINT,
                           ('0x' || substr(b.simhash, 9, 8))::BIGINT)) AS ham
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    )
    WHERE ham <= 3
    """,
    description=(
        "SimHash near-dup pairs: 4x16-bit banded blocking + exact Hamming <= 3 verify. "
        "Pigeonhole-exact at this threshold (3 flips can't touch all 4 bands), which the "
        "brute-force O(n^2) oracle equality proves"
    ),
)
def q_neardup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_neardup_pairs(_t(spark, sf_dir, "documents"))


@query(
    "mixture_sample",
    oracle="WITH scored AS (SELECT doc_id, "
    + text.langid_sql_columns()
    + """
    FROM documents)
    SELECT doc_id, pred_lang, bucket
    FROM (SELECT doc_id, pred_lang,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS INT) AS bucket
          FROM scored)
    WHERE bucket < CASE WHEN pred_lang = 'en' THEN 32768 ELSE 13107 END
    """,
    description=(
        "Training-data mixture sampling: per-language rates (50% en, 20% other) "
        "composed from the langid prediction and the deterministic md5 bucket — the "
        "data-mixing step of corpus assembly, reproducible with no RNG state"
    ),
)
def q_mixture_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", *text.langid_score_columns()).withColumn(
        "pred_lang", text.langid_pred_column()
    )
    bucket = F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT)")
    threshold = F.when(F.col("pred_lang") == "en", F.lit(32768)).otherwise(F.lit(13107))
    return (
        scored.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold)
        .select("doc_id", "pred_lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Quality filtering: repetition signals, segment-level dedup, PII redaction
# ---------------------------------------------------------------------------

@query(
    "repetition_signals",
    oracle="WITH "
    + TOKS_CTE
    + """,
    wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
    ws AS (SELECT doc_id, max(c) AS top_w, sum(c) AS n_tok FROM wc GROUP BY 1),
    bg AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS b
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    bs AS (SELECT doc_id, max(c) AS top_b, sum(c) AS n_bg FROM bc GROUP BY 1),
    tg AS (
      SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS t
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    ts AS (SELECT doc_id, count(*) AS n_tg, count(DISTINCT t) AS d_tg FROM tg GROUP BY 1)
    SELECT ws.doc_id,
           """
    + sql_round("CAST(top_w AS DOUBLE) / n_tok", 4)
    + """ AS top_word_frac,
           """
    + sql_round("CAST(top_b AS DOUBLE) / n_bg", 4)
    + """ AS top_bigram_frac,
           """
    + sql_round("1.0 - CAST(d_tg AS DOUBLE) / n_tg", 4)
    + """ AS dup_trigram_frac
    FROM ws
    JOIN bs ON bs.doc_id = ws.doc_id
    JOIN ts ON ts.doc_id = ws.doc_id
    WHERE ws.n_tok >= 3
    """,
    description=(
        "Gopher-style repetition quality signals per document: top-word share, "
        "top-bigram share, duplicate-trigram fraction — three combiner-friendly "
        "(doc, ngram) groupBys, shuffle volume O(distinct ngrams)"
    ),
)
def q_repetition_signals(spark, sf_dir):
    return text.repetition_signals(_t(spark, sf_dir, "documents"))


@query(
    "segment_dedup_docs",
    oracle="WITH "
    + TOKS_CTE
    + """,
    segs AS (
      SELECT doc_id, (i - 1) // 8 AS seg_idx, string_agg(w, ' ' ORDER BY i) AS seg
      FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_seg_kept
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
    description=(
        "CCNet-style corpus-wide segment dedup (8-token segments stand in for "
        "paragraphs — corpus has no newlines): keep first occurrence per segment "
        "hash, reassemble docs; one shuffle keyed by md5(seg), one by doc"
    ),
)
def q_segment_dedup_docs(spark, sf_dir):
    return text.segment_dedup(_t(spark, sf_dir, "documents"))


@query(
    "pii_redact_docs",
    # The synthetic corpus contains no PII (verified: zero '@', zero digits),
    # so BOTH sides inject the same deterministic synthetic contact block by
    # doc_id class — what the parity check then proves is that the redaction
    # regexes match identically under Java regex and RE2 on text that DOES
    # carry PII, which is the part that matters.
    oracle=r"""
    WITH injected AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
               WHEN 1 THEN ' call 555-123-4567 or 555.987.6543 today'
               ELSE ' ssn 123-45-6789 on file'
             END AS text
      FROM documents
    )
    SELECT doc_id,
           array_length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           array_length(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           array_length(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                 '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')) AS redacted_fp
    FROM injected
    """,
    description=(
        "PII redaction (email/SSN/phone -> typed placeholders) + per-class match "
        "counts; corpus carries no PII so a deterministic synthetic contact block "
        "is injected on both sides — parity proves Java-regex/RE2 agreement"
    ),
)
def q_pii_redact_docs(spark, sf_dir):
    inject = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(" call 555-123-4567 or 555.987.6543 today"))
        .otherwise(F.lit(" ssn 123-45-6789 on file")),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", inject.alias("text"))
    return d.select(
        "doc_id",
        *text.pii_counts(F.col("text")),
        F.md5(F.encode(text.pii_redact(F.col("text")), "UTF-8")).alias("redacted_fp"),
    )


@query(
    "dedup_incremental",
    oracle="WITH "
    + MH_CTE
    + """,
    fp AS (SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))) AS fp
           FROM documents),
    exsurv AS (
      SELECT doc_id, fp FROM fp
      WHERE doc_id % 5 = 0
        AND fp NOT IN (SELECT fp FROM fp WHERE doc_id % 5 != 0)
    ),
    cand AS (
      SELECT DISTINCT e.doc_id AS id_a, b.doc_id AS id_b
      FROM mh e JOIN mh b
        ON e.doc_id % 5 != 0 AND b.doc_id % 5 = 0
       AND b.doc_id IN (SELECT doc_id FROM exsurv)
       AND ("""
    + " OR ".join(f"e.mh{i} = b.mh{i}" for i in range(MINHASH_K))
    + """)
    ),
"""
    + JPAIRS_CTE
    + """
    SELECT s.doc_id, s.fp
    FROM exsurv s
    WHERE s.doc_id NOT IN (SELECT id_b FROM jpairs)
    """,
    description=(
        "Incremental (daily-ingest) dedup: the doc_id%5==0 slice plays the new "
        "batch, the rest the existing corpus — drop batch docs that are exact "
        "(fingerprint) or near (minhash collision + Jaccard >= 0.2) duplicates "
        "of the corpus; batch x corpus band join, never corpus x corpus"
    ),
)
def q_dedup_incremental(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_neardup_filter(batch, existing)


@query(
    "decontaminate_spans",
    oracle="WITH "
    + TOKS_CTE
    + """,
    tg AS (
      SELECT a.doc_id, a.i, a.w || ' ' || b.w || ' ' || c.w AS g
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    bg AS (SELECT DISTINCT g FROM tg WHERE doc_id % 37 = 0),
    starts AS (
      SELECT t.doc_id, t.i FROM tg t JOIN bg USING (g) WHERE t.doc_id % 37 != 0
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, s.i + r.range AS pos
      FROM starts s CROSS JOIN range(3) r
    ),
    kept AS (
      SELECT t.doc_id, t.i, t.w
      FROM toks t
      WHERE t.doc_id % 37 != 0
        AND NOT EXISTS (SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.pos = t.i)
    ),
    tot AS (SELECT doc_id, count(*) AS n FROM toks WHERE doc_id % 37 != 0 GROUP BY 1)
    SELECT k.doc_id,
           string_agg(k.w, ' ' ORDER BY k.i) AS clean_text,
           CAST(any_value(tot.n) - count(*) AS BIGINT) AS n_removed
    FROM kept k JOIN tot ON tot.doc_id = k.doc_id
    GROUP BY k.doc_id
    """,
    description=(
        "Span-level decontamination: REMOVE exactly the token spans covered by a "
        "benchmark trigram (doc_id%37==0 slice plays the benchmark) and keep the "
        "rest of each training doc — surgical alternative to flag-and-drop; "
        "benchmark reduces to a distinct-gram broadcast set"
    ),
)
def q_decontaminate_spans(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return text.decontaminate_spans(train, bench)


@query(
    "quality_filter_fusion",
    oracle="WITH "
    + TOKS_CTE
    + """,
    wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
    ws AS (SELECT doc_id, max(c) AS top_w, sum(c) AS n_tok FROM wc GROUP BY 1),
    tg AS (
      SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS t
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ),
    ts AS (SELECT doc_id, count(*) AS n_tg, count(DISTINCT t) AS d_tg FROM tg GROUP BY 1),
    base AS (
      SELECT d.doc_id,
             CAST(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / CAST(length(d.text) AS DOUBLE) AS alpha_ratio,
             ws.top_w, ws.n_tok, ts.d_tg, ts.n_tg
      FROM documents d
      JOIN ws ON ws.doc_id = d.doc_id
      JOIN ts ON ts.doc_id = d.doc_id
      WHERE ws.n_tok >= 3 AND length(d.text) > 0
    )
    SELECT doc_id,
           """
    + sql_round(
        "0.4 * alpha_ratio"
        " + 0.3 * (CAST(d_tg AS DOUBLE) / n_tg)"
        " + 0.3 * least(CAST(n_tok AS DOUBLE) / 80.0, 1.0)"
        " - 0.2 * (CAST(top_w AS DOUBLE) / n_tok)",
        4,
    )
    + """ AS quality_score,
           CAST(("""
    + "0.4 * alpha_ratio + 0.3 * (CAST(d_tg AS DOUBLE) / n_tg)"
    + " + 0.3 * least(CAST(n_tok AS DOUBLE) / 80.0, 1.0)"
    + " - 0.2 * (CAST(top_w AS DOUBLE) / n_tok)"
    + """) >= 0.78 AS BOOLEAN) AS keep
    FROM base
    """,
    description=(
        "Quality-gate fusion: one linear score over alpha ratio, trigram "
        "diversity, length saturation and top-word dominance, plus the keep "
        "decision at 0.78 — the composite filter stage every corpus pipeline "
        "ends with; all signals share the tokenize shuffle"
    ),
)
def q_quality_filter_fusion(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = docs.select("doc_id", text.tokens(F.col("text")).alias("__toks"))
    words = (
        toks.select("doc_id", F.explode("__toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_w"), F.sum("c").alias("n_tok"))
    )
    trigram_arr = F.expr(
        "transform(sequence(1, size(__toks) - 2), i -> __toks[i-1] || ' ' || __toks[i] || ' ' || __toks[i+1])"
    )
    tris = (
        toks.filter(F.size("__toks") >= 3)
        .select("doc_id", F.explode(trigram_arr).alias("t"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tg"), F.countDistinct("t").alias("d_tg"))
    )
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("double") / F.length(
        "text"
    ).cast("double")
    base = (
        docs.select("doc_id", alpha.alias("alpha_ratio"))
        .join(words.filter(F.col("n_tok") >= 3), "doc_id")
        .join(tris, "doc_id")
    )
    score = (
        F.lit(0.4) * F.col("alpha_ratio")
        + F.lit(0.3) * (F.col("d_tg").cast("double") / F.col("n_tg"))
        + F.lit(0.3) * F.least(F.col("n_tok").cast("double") / F.lit(80.0), F.lit(1.0))
        - F.lit(0.2) * (F.col("top_w").cast("double") / F.col("n_tok"))
    )
    return base.select(
        "doc_id",
        fround(score, 4).alias("quality_score"),
        (score >= 0.78).alias("keep"),
    )


@query(
    "shard_assignment",
    oracle="""
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 16 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN length(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) = 0 THEN 0
                         ELSE array_length(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) END)
                AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY 1
    """,
    description=(
        "Training-shard assignment: deterministic md5-bucket % 16 per doc (no RNG "
        "state, reproducible across engines/partitionings) + per-shard doc and "
        "token totals — the final fan-out of corpus assembly (mixture_sample -> "
        "pack_sequences -> shards); one combiner-friendly groupBy"
    ),
)
def q_shard_assignment(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    shard = (
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 16")
    ).cast("int")
    return (
        docs.select(shard.alias("shard"), text.token_count(F.col("text")).alias("__nt"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("total_tokens"),
        )
    )


@query(
    "cdc_segment_dedup",
    oracle="WITH "
    + TOKS_CTE
    + """,
    lagged AS (
      SELECT doc_id, i, w, lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS lagw
      FROM toks
    ),
    marked AS (
      SELECT doc_id, i, w,
             CASE WHEN i > 1
                   AND CAST(('0x' || substr(md5(lagw || ' ' || w), 1, 4))::BIGINT AS INT) % 8 = 0
                  THEN 1 ELSE 0 END AS bnd
      FROM lagged
    ),
    segd AS (
      SELECT doc_id, i, w,
             sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_idx
      FROM marked
    ),
    segs AS (
      SELECT doc_id, seg_idx, string_agg(w, ' ' ORDER BY i) AS seg
      FROM segd GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_seg_kept
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
    description=(
        "Content-defined-chunking dedup: Rabin-style boundaries on the token "
        "stream (hash of 2-token context % 8 == 0) instead of fixed offsets, so "
        "prefix insertions only perturb segments up to the next boundary; then "
        "the same keep-first-occurrence dedup and document reassembly"
    ),
)
def q_cdc_segment_dedup(spark, sf_dir):
    return text.cdc_segment_dedup(_t(spark, sf_dir, "documents"))


@query(
    "duplicated_spans",
    oracle="WITH "
    + TOKS_CTE
    + """,
    dl AS (SELECT doc_id, list(w ORDER BY i) AS ws FROM toks GROUP BY 1),
    starts AS (
      SELECT doc_id, ws, unnest(range(greatest(len(ws) - 15, 0))) AS i0 FROM dl
    ),
    wins AS (
      SELECT doc_id, CAST(i0 AS BIGINT) AS i0,
             md5(array_to_string(list_slice(ws, CAST(i0 + 1 AS INT), CAST(i0 + 16 AS INT)), ' ')) AS h
      FROM starts
    ),
    dh AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
    ds AS (SELECT w.doc_id, w.i0 FROM wins w JOIN dh USING (h)),
    cov AS (SELECT DISTINCT doc_id, i0 + r.range AS pos FROM ds CROSS JOIN range(16) r),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM cov
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 1 AS BIGINT) AS span_end,
           CAST(max(pos) + 1 - min(pos) AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    description=(
        "Exact duplicated-substring spans (the suffix-array dedup recipe, "
        "window-hashed to distribute): positions covered by a corpus-duplicated "
        "16-token window, merged into maximal per-doc spans via gaps-and-islands "
        "— one count-keyed groupBy + a semi join, no suffix sorting"
    ),
)
def q_duplicated_spans(spark, sf_dir):
    return dedup.duplicated_spans(_t(spark, sf_dir, "documents"))


@query(
    "remove_duplicated_spans",
    oracle="WITH "
    + TOKS_CTE
    + """,
    dl AS (SELECT doc_id, list(w ORDER BY i) AS ws FROM toks GROUP BY 1),
    starts AS (
      SELECT doc_id, ws, unnest(range(greatest(len(ws) - 15, 0))) AS i0 FROM dl
    ),
    wins AS (
      SELECT doc_id, CAST(i0 AS BIGINT) AS i0,
             md5(array_to_string(list_slice(ws, CAST(i0 + 1 AS INT), CAST(i0 + 16 AS INT)), ' ')) AS h
      FROM starts
    ),
    later AS (
      SELECT doc_id, i0 FROM (
        SELECT doc_id, i0, row_number() OVER (PARTITION BY h ORDER BY doc_id, i0) AS rn
        FROM wins) WHERE rn > 1
    ),
    cov AS (SELECT DISTINCT doc_id, i0 + r.range AS pos FROM later CROSS JOIN range(16) r),
    kept AS (
      SELECT t.doc_id, t.i, t.w
      FROM toks t
      WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.i - 1)
    ),
    tot AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1)
    SELECT k.doc_id,
           string_agg(k.w, ' ' ORDER BY k.i) AS clean_text,
           CAST(any_value(tot.n) - count(*) AS BIGINT) AS n_removed
    FROM kept k JOIN tot ON tot.doc_id = k.doc_id
    GROUP BY k.doc_id
    """,
    description=(
        "Suffix-dedup removal policy at window granularity: keep the FIRST "
        "corpus occurrence of every duplicated 16-token substring, delete the "
        "positions covered by later occurrences, reassemble docs — the removal "
        "stage composing with duplicated_spans' detection"
    ),
)
def q_remove_duplicated_spans(spark, sf_dir):
    return dedup.remove_duplicated_spans(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Corpus assembly planning: per-source quality calibration + mixture budgeting
# ---------------------------------------------------------------------------

# The quality score both calibration queries rank on: alpha ratio blended with
# length saturation. Kept deliberately cheap (no n-gram shuffle) because the
# point of the query is the PER-SOURCE PERCENTILE machinery, not the score.
# Built from the module's shared fragments so tokenization/ratio tweaks
# happen in exactly one place.
_CAL_SCORE_SQL = (
    f"0.6 * {_ALPHA_RATIO_SQL} + 0.4 * least(CAST({_N_TOKENS_SQL} AS DOUBLE) / 80.0, 1.0)"
)


def _cal_score_col():
    return text.calibration_score_col()


@query(
    "quality_calibrate_per_source",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source, """
    + _CAL_SCORE_SQL
    + """ AS score FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, score,
             row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_kept,
           """
    + sql_round("min(score)", 6)
    + """ AS threshold
    FROM ranked
    WHERE rn <= CAST(ceil(0.7 * n) AS BIGINT)
    GROUP BY source
    """,
    description=(
        "Per-source quality-threshold calibration: a single global cutoff "
        "over-prunes weak sources and under-prunes strong ones, so real "
        "pipelines calibrate the keep-threshold per source — here the exact "
        "70th-percentile-by-rank score within each source (row_number keeps "
        "it deterministic under ties, unlike approx_percentile). One shuffle "
        "keyed by source; the rank window rides the same partitioning."
    ),
)
def q_quality_calibrate_per_source(spark, sf_dir):
    from pyspark.sql import Window as W

    scored = _t(spark, sf_dir, "documents").select("doc_id", "source", _cal_score_col().alias("score"))
    ranked = (
        scored.withColumn(
            "rn", F.row_number().over(W.partitionBy("source").orderBy(F.desc("score"), "doc_id"))
        )
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("source")))
    )
    kept = ranked.filter(F.col("rn") <= F.ceil(F.lit(0.7) * F.col("n")))
    return kept.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_kept"),
        fround(F.min("score"), 6).alias("threshold"),
    )


@query(
    "mixture_plan_tokens",
    oracle=f"""
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
           """
    + sql_round("epochs", 6)
    + """ AS epochs,
           """
    + sql_round("least(epochs, 4.0)", 6)
    + """ AS capped_epochs,
           """
    + sql_round("least(epochs, 4.0) * CAST(total_tokens AS DOUBLE)", 2)
    + """ AS planned_tokens,
           CAST(epochs < 1.0 AS BOOLEAN) AS downsampled
    FROM planned
    """,
    description=(
        "Uniform-mixture token budgeting: split a fixed 200k-token training "
        "budget evenly across sources and compute per-source epoch counts "
        "(epochs > 1 = upsample, < 1 = downsample), with the standard 4-epoch "
        "upsampling cap. All divisions happen on exact BIGINT aggregates, so "
        "the plan is reproducible bit-for-bit across engines — the planning "
        "stage that precedes mixture_sample's execution stage."
    ),
)
def q_mixture_plan_tokens(spark, sf_dir):
    from pyspark.sql import Window as W

    from h2outility_spark.operators.text import token_count

    per_src = (
        _t(spark, sf_dir, "documents")
        .select("source", token_count(F.col("text")).cast("bigint").alias("n_tokens"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
    )
    nsrc = F.count(F.lit(1)).over(W.partitionBy())
    # Zero-token source guard (ANSI mode raises on /0): NULL epochs means
    # "nothing to sample here", and every downstream column stays NULL —
    # the oracle's CASE produces the same NULL, so parity holds.
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


# -- per-source quality gate, applied ----------------------------------------

GATE_ORACLE = """
WITH scored AS (
  SELECT doc_id, source,
         0.6 * coalesce(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / (CASE WHEN length(text) > 0 THEN CAST(length(text) AS DOUBLE) END), 0.0)
         + 0.4 * least(CAST(
             CASE WHEN length(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) = 0 THEN 0
                  ELSE array_length(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) END
             AS DOUBLE) / 80.0, 1.0) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT doc_id, source, rnk,
       """ + sql_round("score", 6) + """ AS score
FROM ranked
WHERE rnk <= CAST(ceil(0.7 * n) AS BIGINT)
"""


@query(
    "quality_gate_docs",
    oracle=GATE_ORACLE,
    description=(
        "Per-source 70%-by-rank quality gate APPLIED: the surviving docs with "
        "their in-source rank — the row-level view the corpus pipeline consumes"
    ),
)
def q_quality_gate_docs(spark, sf_dir):
    """The calibration query's threshold APPLIED: the surviving docs of the
    per-source 70%-by-rank quality gate, with their in-source rank — the
    row-level view the corpus pipeline's stage 1 consumes."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", text.calibration_score_col().alias("score"))
    ranked = scored.withColumn(
        "rnk", F.row_number().over(W.partitionBy("source").orderBy(F.desc("score"), "doc_id"))
    ).withColumn("n", F.count(F.lit(1)).over(W.partitionBy("source")))
    return ranked.filter(F.col("rnk") <= F.ceil(F.lit(0.7) * F.col("n"))).select(
        "doc_id", "source", "rnk", fround(F.col("score"), 6).alias("score")
    )


# -- language composition matrix ---------------------------------------------


def _lang_matrix_oracle() -> str:
    return (
        """
    WITH scored AS (
      SELECT doc_id, source, """
        + _N_TOKENS_SQL
        + """ AS n_tokens,
           """
        + text.langid_sql_columns()
        + """
      FROM documents
    ),
    grouped AS (
      SELECT source, pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM scored GROUP BY 1, 2
    )
    SELECT source, pred_lang, n_docs, total_tokens,
           """
        + sql_round("CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY source)", 6)
        + """ AS doc_share
    FROM grouped
    """
    )


LANG_MATRIX_ORACLE = _lang_matrix_oracle()


@query(
    "corpus_language_matrix",
    oracle=LANG_MATRIX_ORACLE,
    description=(
        "Per-(source, predicted language) doc/token inventories + in-source doc "
        "share — the language-composition audit behind sampling temperatures"
    ),
)
def q_corpus_language_matrix(spark, sf_dir):
    """Per-(source, predicted language): doc and token inventories plus the
    in-source doc share — the language-composition audit a multilingual
    corpus runs before choosing sampling temperatures. Share division runs
    over exact BIGINT aggregates, so it is engine-reproducible."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        *text.langid_score_columns(),
    ).withColumn("pred_lang", text.langid_pred_column())
    grouped = scored.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    src_docs = F.sum("n_docs").over(W.partitionBy("source"))  # exact integer sum
    return grouped.select(
        "source",
        "pred_lang",
        "n_docs",
        "total_tokens",
        fround(F.col("n_docs").cast("double") / src_docs, 6).alias("doc_share"),
    )


# -- doc-length histogram ------------------------------------------------------


def _len_hist_oracle() -> str:
    return (
        """
    WITH tok AS (SELECT source, """
        + _N_TOKENS_SQL
        + """ AS n_tokens FROM documents)
    SELECT source,
           CAST(CASE WHEN n_tokens <= 0 THEN -1
                     ELSE CAST(floor(log2(CAST(n_tokens AS DOUBLE))) AS BIGINT) END AS INT)
             AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM tok
    GROUP BY 1, 2
    """
    )


LEN_HIST_ORACLE = _len_hist_oracle()


@query(
    "doc_length_histogram",
    oracle=LEN_HIST_ORACLE,
    description=(
        "Token-length distribution per source in power-of-two buckets (empty "
        "docs in bucket -1) — the diagnostic behind truncation/packing budgets"
    ),
)
def q_doc_length_histogram(spark, sf_dir):
    """Token-length distribution per source in power-of-two buckets
    (empty docs land in bucket -1) — the length diagnostic behind
    truncation budgets and packing efficiency. log2 on exact integers,
    floored to an integer bucket, so bucket edges are engine-identical."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text")).cast("bigint")
    bucket = (
        F.when(n_tok <= 0, F.lit(-1))
        .otherwise(F.floor(F.log2(n_tok.cast("double"))).cast("bigint"))
        .cast("int")
    )
    return (
        docs.select("source", n_tok.alias("n_tokens"), bucket.alias("log2_bucket"))
        .groupBy("source", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# -- boilerplate prefix-duplication rate --------------------------------------

PREFIX_DUP_ORACLE = """
WITH pfx AS (
  SELECT doc_id, source,
         md5(lower(array_to_string(
           list_slice(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' '), 1, 8),
           ' '))) AS pfp
  FROM documents
),
dup AS (
  SELECT source, pfp, count(*) AS n FROM pfx GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_shared_prefix,
       """ + sql_round("CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / sum(n)", 6) + """
         AS shared_prefix_rate
FROM dup
GROUP BY source
"""


@query(
    "prefix_dup_rate",
    oracle=PREFIX_DUP_ORACLE,
    description=(
        "Per-source share of docs whose first-8-token fingerprint collides in "
        "the same source — the cheap boilerplate-header detector"
    ),
)
def q_prefix_dup_rate(spark, sf_dir):
    """Per-source share of docs whose first-8-token fingerprint collides
    with another doc IN THE SAME SOURCE — the boilerplate-header detector
    (templated pages, scraped nav bars) that runs cheaper than any n-gram
    pipeline: one md5 per doc, one groupBy."""
    docs = _t(spark, sf_dir, "documents")
    pfx = docs.select("source", text.prefix_fingerprint().alias("pfp"))
    dup = pfx.groupBy("source", "pfp").agg(F.count(F.lit(1)).alias("n"))
    shared = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
    return dup.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        shared.alias("n_shared_prefix"),
        fround(shared.cast("double") / F.sum("n"), 6).alias("shared_prefix_rate"),
    )


# -- BPE-ish token histogram --------------------------------------------------

#: Engine-proof BPE-ish class: alpha runs, digit runs, single other
#: non-space marks — with the whitespace class spelled out (never \s).
BPE_EXPLICIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]"

BPE_TOKEN_HIST_ORACLE = """
WITH tok AS (
  SELECT source,
         CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]')) AS BIGINT)
           AS n_bpe
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(min(n_bpe) AS BIGINT) AS min_bpe,
       CAST(max(n_bpe) AS BIGINT) AS max_bpe
FROM tok GROUP BY source
"""


@query(
    "bpe_token_hist",
    oracle=BPE_TOKEN_HIST_ORACLE,
    description="Per-source BPE-ish token inventory (engine-proof explicit token class)",
)
def q_bpe_token_hist(spark, sf_dir):
    """Per-source BPE-ish token inventory (alpha runs + digit runs +
    single punctuation marks): the sub-word-flavored budget estimate that
    tracks real tokenizer counts far better than whitespace words. The
    token class spells its whitespace out so Java regex and RE2 agree
    character for character."""
    docs = _t(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_EXPLICIT_PATTERN), 0)).cast(
        "bigint"
    )
    return (
        docs.select("source", n_bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.min("n_bpe").alias("min_bpe"),
            F.max("n_bpe").alias("max_bpe"),
        )
    )


# -- near-dup dedup that keeps the BEST representative -------------------------

DEDUP_KEEP_BEST_ORACLE = (
    "WITH RECURSIVE "
    + MH_CTE
    + MH_CAND_CTE
    + JPAIRS_CTE
    + CLUSTERS_CTE
    + """,
    alld AS (SELECT doc_id, n_chars FROM documents),
    memb AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
      FROM alld d LEFT JOIN clusters c ON c.node = d.doc_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rk
      FROM memb
    )
    SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rk = 1
    """
)


@query(
    "dedup_keep_best",
    oracle=DEDUP_KEEP_BEST_ORACLE,
    description="Near-dup clusters collapsed to the best-quality (longest) representative — the production dedup policy",
)
def q_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup with a QUALITY policy: MinHash-LSH pairs verified by
    Jaccard >= 0.2, collapsed to clusters, then ONE representative kept
    per cluster — the LONGEST document (n_chars), ties to the smallest
    id. This is the policy real pipelines want (keep-first throws away
    the best copy whenever the best copy isn't the oldest). Docs outside
    any cluster are their own representative. Scale shape: pairs come
    from banded buckets, the window is per-cluster — no O(n^2) stage.
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = query_cache(dedup.minhash_signatures(docs))
    pairs = dedup.lsh_candidate_pairs(sigs)
    cc = dedup.connected_components(dedup.jaccard_for_pairs(pairs, docs))
    memb = (
        docs.select("doc_id", "n_chars")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    w = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        memb.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1).drop("rk")
    )


# -- asymmetric containment near-dup ------------------------------------------

CONTAINMENT_ORACLE = (
    "WITH "
    + MH_CTE
    + MH_CAND_CTE
    + """
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM dsh GROUP BY 1),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS ni
      FROM cand c
      JOIN dsh s1 ON s1.doc_id = c.id_a
      JOIN dsh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    ),
    cont AS (
      SELECT i.id_a, i.id_b,
             CAST(ni AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cab,
             CAST(ni AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cba
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
    )
    SELECT id_a, id_b,
           floor(cab * 10000.0 + 0.5) / 10000.0 AS cont_ab,
           floor(cba * 10000.0 + 0.5) / 10000.0 AS cont_ba
    FROM cont WHERE greatest(cab, cba) >= 0.5
    """
)


@query(
    "minhash_containment_pairs",
    oracle=CONTAINMENT_ORACLE,
    description="Directed n-gram containment over banded candidates — catches sub-document duplication symmetric Jaccard dilutes",
)
def q_minhash_containment_pairs(spark, sf_dir):
    """Asymmetric near-dup: DIRECTED n-gram containment (|A∩B|/|A| and
    |A∩B|/|B|) for the banded MinHash candidate pairs, keeping pairs
    where either direction >= 0.5 — the measure that catches a short doc
    pasted into a long one, which symmetric Jaccard misses (the union
    dilutes it). Same banded-candidates-then-exact-verify cost shape as
    the certified Jaccard path (operators/dedup.containment_for_pairs).
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = query_cache(dedup.minhash_signatures(docs))
    pairs = dedup.lsh_candidate_pairs(sigs)
    cont = dedup.containment_for_pairs(pairs, docs)
    return cont.filter(
        F.greatest(F.col("cont_ab"), F.col("cont_ba")) >= 0.5
    ).select(
        "id_a",
        "id_b",
        fround(F.col("cont_ab"), 4).alias("cont_ab"),
        fround(F.col("cont_ba"), 4).alias("cont_ba"),
    )


# -- sliding-window chunking ----------------------------------------------------

_CHUNK_SIZE, _CHUNK_STRIDE = 64, 48

CHUNK_SLIDING_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ') AS toks,
         CASE WHEN length(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) = 0 THEN 0
              ELSE array_length(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) END AS n
  FROM documents
),
s AS (
  SELECT doc_id, toks, n, u.s AS start_tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY u.s) - 1 AS chunk_idx
  FROM t, unnest(generate_series(0, n - 1, {_CHUNK_STRIDE})) u(s)
  WHERE n > 0 AND (u.s = 0 OR u.s - {_CHUNK_STRIDE} + {_CHUNK_SIZE} < n)
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(least({_CHUNK_SIZE}, n - start_tok) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, start_tok + 1, start_tok + {_CHUNK_SIZE}), ' ') AS chunk_text
FROM s
"""


@query(
    "chunk_sliding",
    oracle=CHUNK_SLIDING_ORACLE,
    description="sliding-window RAG chunking (64-token windows every 48), pure built-ins, zero shuffles",
    bench=True,
)
def q_chunk_sliding(spark, sf_dir):
    """Sliding-window chunking of the document corpus (64-token windows
    every 48 tokens → 16-token overlap): boundary text is visible to both
    neighboring chunks, the shape RAG retrieval and context-window packing
    want. Chunk indices, offsets, exact chunk text and the
    minimal-trailing-window rule all ride the hash. Zero shuffles."""
    from h2outility_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    return T.chunk_sliding(docs, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE)


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
    sigs_new = dedup.minhash_signatures(new)
    sigs_old = dedup.minhash_signatures(old)
    pairs = dedup.lsh_candidate_pairs_between(sigs_new, sigs_old)
    return dedup.jaccard_for_pairs(pairs, docs).select(
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
    sigs = dedup.minhash_signatures(docs)
    text_pairs = dedup.jaccard_for_pairs(dedup.lsh_candidate_pairs(sigs), docs)
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
    The 100 TB form exists as code, not prose — the registered
    ``rag_prep_sharded`` twin scopes the same window per md5 hash-shard
    (k parallel sorts of n/k)."""
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

    docs = hash_split(_t(spark, sf_dir, "documents"))
    return docs.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
    )


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
    toks = docs.select("doc_id", F.explode(shingles_expr(1)).alias("w"))
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
    toks = docs.select("doc_id", F.explode(shingles_expr(1)).alias("w"))
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
        "shard", F.expr(T.shard_expr_sql(_RAG_SHARDS))
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


# -- per-document unigram entropy --------------------------------------------------------

DOC_ENTROPY_ORACLE = f"""
WITH {toks_cte().strip().rstrip()},
cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS BIGINT) AS u
        FROM cnt GROUP BY 1),
ent AS (
  SELECT cnt.doc_id,
         -sum((cnt.c / tot.n) * ln(cnt.c / tot.n)) AS h
  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
  GROUP BY 1
)
SELECT ent.doc_id, CAST(tot.n AS BIGINT) AS n_tokens, tot.u AS n_unique,
       {sql_round("ent.h", 4)} AS entropy
FROM ent JOIN tot ON tot.doc_id = ent.doc_id
"""


@query(
    "doc_token_entropy",
    oracle=DOC_ENTROPY_ORACLE,
    description="Per-document unigram Shannon entropy (repetitiveness/diversity quality signal)",
)
def q_doc_token_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy — the diversity score next
    to ``doc_lm_score`` (cross-entropy vs the corpus) and
    ``repetition_signals`` (surface repeats): low entropy flags
    boilerplate and keyword-stuffed docs that length filters miss. One
    explode + two hash aggregates (term counts, then the entropy sum) —
    both combiner-friendly, no windows. The 4-dp rounding absorbs the
    cross-engine ln() ulp; the p·ln p terms are otherwise identical
    expression shapes."""
    from h2outility_spark.operators.text import normalize_ws

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_ws(F.col("text"))
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.explode(F.split(norm, " ")).alias("w")
    )
    cnt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"), F.count(F.lit(1)).alias("u")
    )
    p = F.col("c") / F.col("n")
    ent = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    return ent.join(tot, "doc_id").select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("u").alias("n_unique"),
        fround(F.col("h"), 4).alias("entropy"),
    )


# -- Zipf rank-frequency slope per source ------------------------------------------------

_ZIPF_TOPK = 100

ZIPF_ORACLE = f"""
WITH {toks_cte().strip().rstrip()},
src AS (
  SELECT d.source, t.w FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
  FROM cnt
),
top AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked WHERE rk <= {_ZIPF_TOPK}),
s AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM top GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_terms,
       {sql_round("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 4)} AS slope,
       {sql_round("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 4)} AS intercept
FROM s
"""


@query(
    "zipf_slope_fit",
    oracle=ZIPF_ORACLE,
    description="Zipf slope: closed-form OLS of ln(freq) on ln(rank) over each source's top-100 tokens",
)
def q_zipf_slope_fit(spark, sf_dir):
    """Zipf's-law health check per source: OLS slope of ln(frequency) on
    ln(rank) over the top-100 tokens (natural text sits near −1; a
    slope far off flags templated or synthetic sources — the corpus
    forensics siblings of ``series_trend_fit``'s per-series OLS). Ranks
    come from EXACT integer counts with the (count DESC, token) rule, so
    the regression inputs are engine-identical up to ln() ulp; both
    engines run the same closed-form normal-equation sums and round the
    fitted coefficients to 4 dp. One token-count aggregate + one
    bounded per-source top-k window + one 100-row-per-source
    regression aggregate."""
    from h2outility_spark.operators.text import normalize_ws

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_ws(F.col("text"))
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("w")
    )
    cnt = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    rk_w = W.partitionBy("source").orderBy(F.col("c").desc(), F.col("w"))
    top = (
        cnt.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _ZIPF_TOPK)
        .select(
            "source",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = top.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "source",
        F.col("n").cast("bigint").alias("n_terms"),
        fround(slope, 4).alias("slope"),
        fround(intercept, 4).alias("intercept"),
    )


# -- deterministic per-source k-sample ---------------------------------------------------

_SAMPLE_K = 20

STRAT_TOPK_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(rk AS INT) AS rk
FROM r WHERE rk <= {_SAMPLE_K}
"""


@query(
    "stratified_topk_sample",
    oracle=STRAT_TOPK_ORACLE,
    description="Deterministic per-source k-sample by md5(doc_id) order — RNG-free, growth-stable membership",
)
def q_stratified_topk_sample(spark, sf_dir):
    """Deterministic per-source k-sample: rank docs within each source by
    md5(doc_id) (an order that is uniform-ish but has NO RNG state —
    ``hash_sample``'s fixed-size sibling) and keep the first 20. The
    property that matters for dataset curation: membership is stable
    across runs, engines, partitionings AND corpus growth — a doc
    already sampled stays sampled as new docs arrive unless they hash
    earlier, so audits reproduce. Per-source window sort over the
    source's rows; at 100 TB grain this is the top-k-per-group shape
    (rank filter pushes the sort toward TakeOrdered within each
    group)."""
    from h2outility_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    rk_w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            F.row_number().over(rk_w).alias("rk"),
        )
        .filter(F.col("rk") <= _SAMPLE_K)
    )


# -- temperature-scaled source mixture ---------------------------------------------------

_MIX_TAU, _MIX_BUDGET = 0.7, 1_000_000

MIX_TEMP_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(sum({_N_TOKENS_SQL}) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS total FROM per),
w AS (
  SELECT per.source, per.n_tokens,
         power(per.n_tokens / tot.total, {_MIX_TAU}) AS pw
  FROM per, tot
),
z AS (SELECT sum(pw) AS z FROM w)
SELECT w.source,
       CAST(w.n_tokens AS BIGINT) AS n_tokens,
       {sql_round("w.pw / z.z", 4)} AS weight,
       CAST(floor(({sql_round("w.pw / z.z", 4)}) * {_MIX_BUDGET}.0 + 0.5) AS BIGINT) AS planned_tokens
FROM w, z
"""


@query(
    "mixture_temperature_plan",
    oracle=MIX_TEMP_ORACLE,
    description="Temperature-0.7 source mixture: raw share, reweighted share, planned tokens of a 1M budget",
)
def q_mixture_temperature_plan(spark, sf_dir):
    """Temperature-scaled source mixture (τ = 0.7) — the standard
    multilingual/multi-domain sampling rule p_i^τ / Σ p_j^τ that
    up-weights small sources in a training mix (τ = 1 keeps natural
    proportions, τ → 0 approaches uniform): per source, raw token
    share → reweighted share → planned token budget out of 1M. Two
    bounded aggregates (per-source sums, then the normalizer over a
    handful of rows); the weights are rounded at 4 dp on both engines
    and the planned budget applies the shared half-up integer rule to
    the ALREADY-ROUNDED weight — deriving the integer from the raw
    pow() value would let a last-ulp Java-vs-DuckDB power() difference
    at a half-up boundary flip it (the r9 boundary lesson). The batch
    twin of ``mixture_plan_tokens``'s fixed-quota plan."""
    from h2outility_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text")).cast("bigint")).cast("double").alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    w = per.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("total"), F.lit(_MIX_TAU)).alias("pw"),
    )
    z = w.agg(F.sum("pw").alias("z"))
    weight = F.col("pw") / F.col("z")
    return w.join(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        fround(weight, 4).alias("weight"),
        F.floor(fround(weight, 4) * F.lit(float(_MIX_BUDGET)) + F.lit(0.5))
        .cast("bigint")
        .alias("planned_tokens"),
    )


# -- packer conservation certificate -----------------------------------------------------

_PACK_BUDGET = 512

PACK_CERT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST({_N_TOKENS_SQL} AS BIGINT) AS n FROM documents
),
pre AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM t
),
bins AS (
  SELECT prefix // {_PACK_BUDGET} AS bin_id, sum(n) AS bin_tokens
  FROM pre GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
       CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
       sum(bin_tokens) = (SELECT sum(n) FROM t) AS conserved,
       max(bin_tokens) <= {_PACK_BUDGET} - 1 + (SELECT max(n) FROM t) AS straddle_bounded
FROM bins
"""


@query(
    "pack_conservation_cert",
    oracle=PACK_CERT_ORACLE,
    description="Packer conservation certificate: token totals preserved + straddle bound, integer-exact",
)
def q_pack_conservation_cert(spark, sf_dir):
    """The certified packer's two integer-exact laws on one row — the
    invariants a packing bug breaks first, and both checkable without
    floats: CONSERVATION (the bins' token totals sum to exactly the
    corpus total — no doc dropped or double-packed) and the STRADDLE
    BOUND (a bin exceeds the 512 budget only by the straddling doc:
    max bin ≤ budget − 1 + largest doc, provable from the prefix-sum
    charging rule). Runs the same ``pack_sequences`` plan the certified
    ``pack_sequences`` query hashes, then folds the laws into one
    all-integer certificate row."""
    from h2outility_spark.operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    bins = pack_sequences(docs, budget_tokens=_PACK_BUDGET)
    from h2outility_spark.operators.text import space_token_count

    corpus = docs.select(
        space_token_count(F.col("text")).cast("bigint").alias("n")
    ).agg(F.sum("n").alias("corpus_total"), F.max("n").alias("max_doc"))
    agg = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("total_tokens").alias("total_tokens"),
        F.max("total_tokens").alias("max_bin_tokens"),
    )
    return agg.join(F.broadcast(corpus)).select(
        "n_bins",
        "total_tokens",
        "max_bin_tokens",
        (F.col("total_tokens") == F.col("corpus_total")).alias("conserved"),
        (
            F.col("max_bin_tokens")
            <= F.lit(_PACK_BUDGET - 1) + F.col("max_doc")
        ).alias("straddle_bounded"),
    )


# -- unigram-LM quality scoring with per-source buckets (the CCNet shape) ----------------

_ULM_BUCKETS = 3

UNIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT d.doc_id, d.source,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS w
  FROM documents d
  WHERE length(trim(text)) > 0
),
cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tot FROM cnt),
per AS (
  SELECT t.doc_id, t.source, count(*) AS n_tokens,
         floor(avg(ln(CAST(c.c AS DOUBLE) / tot.n_tot)) * 10000.0 + 0.5) / 10000.0 AS logprob
  FROM toks t JOIN cnt c USING (w) CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, logprob,
       CAST(ntile({b}) OVER (PARTITION BY source ORDER BY logprob DESC, doc_id) AS INT) AS bucket
FROM per
""".format(b=_ULM_BUCKETS)


@query(
    "unigram_logprob_buckets",
    oracle=UNIGRAM_LM_ORACLE,
    description="CCNet-style quality bucketing: per-doc mean unigram log-prob, per-source terciles on the rounded score",
)
def q_unigram_logprob_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020) — the
    standard curation move this engine lacked: score every document by
    its mean token log-probability under the corpus's own unigram LM,
    then split each source into head/middle/tail terciles (real CCNet
    scores against a Wikipedia KenLM; the unigram self-model keeps the
    pair hermetic while exercising the identical plan shape). Flow: one
    token explode -> vocabulary count table (hash join, combiner-
    friendly) -> per-doc mean ln p -> per-source ntile. The ln() values
    differ across engines in the last ulp, so the score is ROUNDED at 4
    dp BEFORE ranking and doc_id breaks ties — near-ties become exact
    ties with a deterministic order (the tfidf top-k lesson). The 1-row
    total-token broadcast is the allowlisted scalar-BNLJ shape."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("n_tot"))
    per = (
        toks.join(cnt, "w")
        .join(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            fround(F.avg(F.log(F.col("c").cast("double") / F.col("n_tot"))), 4).alias(
                "logprob"
            ),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("logprob").desc(), "doc_id")
    return per.select(
        "doc_id",
        "source",
        "n_tokens",
        "logprob",
        F.ntile(_ULM_BUCKETS).over(w).cast("int").alias("bucket"),
    )
