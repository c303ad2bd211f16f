"""LLM-data-pipeline workload queries: text analysis, deduplication,
similarity search — each with a DuckDB oracle (BASELINE.json north star;
these extend the reference, which has no text/embedding surface).

Portability notes: md5 is identical in Spark and DuckDB (the minhash /
simhash / fingerprint trick); fixed-width hex strings compare like the
integers they encode; shingling is the same normalize→split→slice pipeline
on both sides; DuckDB needs the 'g' flag on regexp_replace to match Spark's
replace-all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.operators import dedup, similarity, text
from h2outility_spark.workload import _t, fround, query, sql_round

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

MINHASH_K = 8


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


def _docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "text_stats",
    oracle="SELECT doc_id, " + text.quality_sql_columns("text") + " FROM documents",
    description="Text quality scoring: char/token counts (whitespace + BPE-ish), alpha/digit/space ratios",
    bench=True,
)
def q_text_stats(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", *text.quality_columns("text"))


@query(
    "text_langid",
    oracle="SELECT doc_id, " + text.langid_sql_columns("text") + " FROM documents",
    description="Language ID: marker-word occurrence scores per language + argmax prediction",
)
def q_text_langid(spark, sf_dir):
    scored = _docs(spark, sf_dir).select("doc_id", *text.langid_score_columns("text"))
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
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fp"),
        text.prefix_fingerprint("text", 8).alias("prefix_fp"),
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
    return text.corpus_ngram_counts(_docs(spark, sf_dir), n=3, min_count=2)


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

    toks = _docs(spark, sf_dir).select(F.explode(text.shingles_expr("text", 1)).alias("token"))
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
    out = text.bigram_conditional_probs(_docs(spark, sf_dir), min_pair=3)
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
    out = text.doc_lm_fluency(_docs(spark, sf_dir))
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
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return text.contamination_overlap(train, bench, n=3)


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
    out = text.hash_sample(_docs(spark, sf_dir), percent=15)
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
    return text.pack_sequences(_docs(spark, sf_dir), budget_tokens=2048)


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
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


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
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


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
    return dedup.minhash_signatures(_docs(spark, sf_dir), num_hashes=MINHASH_K)


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
    docs = _docs(spark, sf_dir)
    # signatures feed the self-join twice and jaccard reuses the shingles —
    # cache the small intermediates instead of re-deriving them per branch
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH_K).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)])
    jac = dedup.jaccard_for_pairs(pairs, docs)
    return jac.filter(F.col("jaccard") >= 0.2).select(
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
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, num_hashes=MINHASH_K).cache()
    pairs = dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)])
    verified = dedup.jaccard_for_pairs(pairs, docs).filter(F.col("jaccard") >= 0.2)
    return dedup.connected_components(verified.select("id_a", "id_b"))


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
    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "text", *text.quality_columns("text"))
    q = scored.filter((F.col("n_tokens") >= 25) & (F.col("alpha_ratio") >= 0.8)).select(
        "doc_id", "text", "n_tokens"
    )
    groups = dedup.exact_dedup_groups(q)
    kept = q.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    ).cache()
    sigs = dedup.minhash_signatures(kept, num_hashes=MINHASH_K)
    pairs = dedup.lsh_candidate_pairs(sigs, bands=[[i] for i in range(MINHASH_K)])
    verified = dedup.jaccard_for_pairs(pairs, kept).filter(F.col("jaccard") >= 0.2)
    clusters = dedup.connected_components(verified.select("id_a", "id_b"))
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
    docs = _docs(spark, sf_dir)
    d1 = docs.select(F.col("doc_id").alias("id_a"), "lang", "source")
    d2 = docs.select(F.col("doc_id").alias("id_b"), "lang", "source")
    pairs = d1.join(d2, ["lang", "source"]).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    jac = dedup.jaccard_for_pairs(pairs, docs)
    return jac.filter(F.col("jaccard") >= 0.2).select(
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
    return dedup.winnow_fingerprints(_docs(spark, sf_dir), k=3, w=_WINNOW_W)


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
    fps = dedup.winnow_fingerprints(_docs(spark, sf_dir), k=3, w=_WINNOW_W).cache()
    return dedup.winnow_neardup_pairs(fps, min_shared=2)


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"{dedup.simhash_bit_vote_sql('th', b)} AS v{b}" for b in range(64)
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
    return dedup.simhash_signatures(_docs(spark, sf_dir))


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
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=3)


# ---------------------------------------------------------------------------
# Multimodal (binary-asset plumbing; Catalyst-only plan stage)
# ---------------------------------------------------------------------------

@query(
    "frame_sample",
    oracle="""
    SELECT asset_id, CAST(frame_index AS INT) AS frame_index
    FROM (SELECT doc_id AS asset_id,
                 unnest(generate_series(0, greatest((n_chars % 300 + 30) - 1, 0), 30)) AS frame_index
          FROM documents)
    """,
    description=(
        "Video frame-sampling plan: every-30th frame index per asset from declared "
        "n_frames metadata (sequence + explode, pure Catalyst) — the decode stage later "
        "touches only these (asset, frame) pairs"
    ),
)
def q_frame_sample(spark, sf_dir):
    from h2outility_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit(None).cast("binary").alias("data"),
        F.lit("video/mp4").alias("mime"),
        F.create_map(
            F.lit("n_frames"), ((F.col("n_chars") % 300) + 30).cast("string")
        ).alias("meta"),
    )
    return multimodal.frame_sample_plan(assets, every_n=30)


@query(
    "audio_chunks",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(unnest(generate_series(0, greatest((n_chars * 40 + 1000) - 1, 0), 2000)) AS BIGINT)
             AS chunk_start_ms
    FROM documents
    """,
    description=(
        "Audio chunking plan: 2 s stride offsets covering each asset's declared "
        "duration_ms metadata (documents stand in as assets; duration derived "
        "deterministically from n_chars) — sequence + explode, pure Catalyst; the "
        "decode stage later touches only planned (asset, offset) pairs"
    ),
)
def q_audio_chunks(spark, sf_dir):
    from h2outility_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.create_map(
            F.lit("duration_ms"),
            ((F.col("n_chars") * 40 + 1000).cast("long")).cast("string"),
        ).alias("meta"),
    )
    return multimodal.audio_chunk_plan(assets, chunk_ms=2_000)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "embedding_knn",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
      SELECT query_id, cand_id,
             list_inner_product(qv, cv)
               / sqrt(list_inner_product(qv, qv) * list_inner_product(cv, cv)) AS cos_raw
      FROM c, q WHERE cand_id <> query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_raw DESC, cand_id) AS rk FROM s)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM r WHERE rk <= 5
    """,
    description="Brute-force cosine top-5 neighbors for query vectors (vec_id < 10)",
    bench=True,
)
def q_embedding_knn(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    topk = similarity.brute_force_topk(emb, queries, k=5)
    return topk.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, CAST(pos - 1 AS INT) AS pos,
           floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS centroid_val
    FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY 1, 2
    """,
    description="IVF coarse quantizer: element-wise mean embedding per label (posexplode + groupBy)",
)
def q_embedding_centroids(spark, sf_dir):
    cents = similarity.centroids_by_label(_emb(spark, sf_dir))
    return cents.select("label", F.col("pos").cast("int").alias("pos"), fround(F.col("centroid_val"), 6).alias("centroid_val"))


@query(
    "neardup_embedding_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_inner_product(a.v, b.v)
                  / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    """,
    description=(
        "Embedding-cosine near-dup pairs (threshold 0.45): exact verifier run global here; "
        "at corpus scale it verifies within LSH/IVF buckets only"
    ),
)
def q_neardup_embedding_pairs(spark, sf_dir):
    out = similarity.cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


@query(
    "neardup_embedding_lsh",
    bench=True,
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_inner_product(a.v, b.v)
                  / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)))
                 * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
          / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    """,
    description=(
        "Embedding near-dup via RP-LSH prefilter (4-bit x 32-band bucketed self-join) + "
        "exact in-bucket cosine verify — the scale path; brute-force oracle proves recall 1.0"
    ),
)
def q_neardup_embedding_lsh(spark, sf_dir):
    out = similarity.cosine_neardup_pairs_lsh(_emb(spark, sf_dir), threshold=0.45)
    return out.select("id_a", "id_b", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def _rp_lsh_oracle() -> str:
    planes = similarity.random_hyperplanes(16, 64)
    bits = []
    for row in planes:
        arr = "[" + ", ".join(f"{x:.1f}" for x in row) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), {arr}) > 0 THEN '1' ELSE '0' END"
        )
    return f"SELECT vec_id, concat({', '.join(bits)}) AS rp_sig FROM embeddings"


@query(
    "rp_lsh_signatures",
    oracle=_rp_lsh_oracle(),
    description=(
        "Random-hyperplane LSH (SimHash-for-vectors): 16 sign bits from deterministic "
        "md5-derived hyperplanes — the bucket-join prefilter for cosine near-dup"
    ),
)
def q_rp_lsh_signatures(spark, sf_dir):
    return similarity.rp_lsh_signatures(_emb(spark, sf_dir), n_planes=16, dim=64)


def _kmeans_oracle() -> str:
    """Lloyd's k-means unrolled as chained CTEs — one (assign, update) pair
    per iteration, mirroring operators/kmeans.py step for step:

      seeds   = first k vectors by vec_id (cluster id = rank order);
      assign  = arg-min over the k squared-L2 distances, computed as
                c·c − 2·v·c exactly like ``_assign`` (v·v dropped — constant
                per row), ties broken by cluster id;
      update  = per-cluster per-position average; an empty cluster keeps its
                previous centroid (the LEFT JOIN + coalesce).

    ``list_inner_product`` accumulates left-to-right like the Spark-side
    ``dot`` fold, so distances agree bit-for-bit; centroid averages can
    differ in the last ulp (accumulation order) but both sides round to
    6 dp at the end, exactly as the Spark query does.
    """
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster, v AS cvec "
            "FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8))"
        ),
    ]
    prev = "c0"
    for i in range(1, 4):
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cluster FROM ("
            "SELECT e.vec_id, e.v, c.cluster, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(e.v, c.cvec), c.cluster) AS rn "
            f"FROM e CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        parts.append(
            f"p{i} AS (SELECT cluster, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv "
            f"FROM a{i} CROSS JOIN range(64) r GROUP BY 1, 2)"
        )
        parts.append(f"g{i} AS (SELECT cluster, list(cv ORDER BY pos) AS cvec FROM p{i} GROUP BY cluster)")
        parts.append(
            f"c{i} AS (SELECT c.cluster, coalesce(g.cvec, c.cvec) AS cvec "
            f"FROM {prev} c LEFT JOIN g{i} g USING (cluster))"
        )
        prev = f"c{i}"
    final = (
        f"SELECT CAST(cluster AS INT) AS cluster, CAST(p.range AS INT) AS pos, "
        f"{sql_round('cvec[CAST(p.range AS INT) + 1]', 6)} AS centroid_val "
        f"FROM {prev} CROSS JOIN range(64) p"
    )
    return ",\n".join(parts) + "\n" + final


@query(
    "kmeans_centroids",
    oracle=_kmeans_oracle(),
    description=(
        "Lloyd's k-means (k=8, 3 iters) over embeddings: broadcast-model iterations, "
        "assignment as a narrow map, update as one k x dim shuffle"
    ),
)
def q_kmeans_centroids(spark, sf_dir):
    from h2outility_spark.operators.kmeans import kmeans

    out = kmeans(_emb(spark, sf_dir), k=8, max_iter=3)
    return out.select("cluster", "pos", fround(F.col("centroid_val"), 6).alias("centroid_val"))


@query(
    "corpus_clean_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v)
            / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)) >= 0.45
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT vec_id FROM drops)
    """,
    description=(
        "Cross-modal canonicalization: keep each doc unless its EMBEDDING has a "
        "near-duplicate (cos >= 0.45) with a smaller id — RP-LSH prefilter + in-bucket "
        "exact verify feeding an anti join; oracle is the brute-force O(n^2) form, so "
        "equality re-proves prefilter recall 1.0 end-to-end"
    ),
)
def q_corpus_clean_embedding(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    pairs = similarity.cosine_neardup_pairs_lsh(emb, threshold=0.45)
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        docs.join(drops, docs.doc_id == drops.vec_id, "left_anti")
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


@query(
    "mixture_sample",
    oracle="WITH scored AS (SELECT doc_id, "
    + text.langid_sql_columns("text")
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
    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", *text.langid_score_columns("text")).withColumn(
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
    return text.repetition_signals(_docs(spark, sf_dir))


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
    return text.segment_dedup(_docs(spark, sf_dir), k=8)


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
    d = _docs(spark, sf_dir).select("doc_id", inject.alias("text"))
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
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_neardup_filter(batch, existing, num_hashes=MINHASH_K)


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
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    return text.decontaminate_spans(train, bench, n=3)


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
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
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
    docs = _docs(spark, sf_dir)
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
    return text.cdc_segment_dedup(_docs(spark, sf_dir), divisor=8)


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
    return dedup.duplicated_spans(_docs(spark, sf_dir), window=16)


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
    return dedup.remove_duplicated_spans(_docs(spark, sf_dir), window=16)


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
    return text.calibration_score_col("text")


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

    scored = _docs(spark, sf_dir).select("doc_id", "source", _cal_score_col().alias("score"))
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
        _docs(spark, sf_dir)
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
