"""Hybrid retrieval + corpus-composition workload queries (registered in
the round-6 window rotation).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from h2outility_spark.operators import similarity, text
from h2outility_spark.sources.parquet import load_table
from h2outility_spark.workload import fround, query, sql_round

# -- hybrid retrieval (RRF fusion) -------------------------------------------

#: Matches operators/similarity.hybrid_search: token-overlap lexical leg,
#: exact-cosine semantic leg, 1/(60+rank) reciprocal-rank fusion, top-10.
#: Sum order is irrelevant (max two addends, IEEE addition is commutative);
#: cosine matches Spark's fold via list_inner_product bit-for-bit.
HYBRID_SEARCH_ORACLE = """
WITH docs AS (
  SELECT d.doc_id, d.text, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
queries AS (SELECT doc_id AS query_id, text, embedding FROM docs WHERE doc_id % 97 = 3),
d_tok AS (
  SELECT DISTINCT doc_id AS cand_id,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
  FROM docs WHERE length(trim(text)) > 0
),
q_tok AS (
  SELECT DISTINCT query_id,
         unnest(regexp_split_to_array(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')), ' ')) AS tok
  FROM queries WHERE length(trim(text)) > 0
),
lex AS (
  SELECT query_id, cand_id, count(*) AS n_shared
  FROM q_tok JOIN d_tok USING (tok) GROUP BY 1, 2
),
lex_rank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY n_shared DESC, cand_id) AS rank
  FROM lex
),
sem AS (
  SELECT q.query_id, d.doc_id AS cand_id,
         list_inner_product(q.embedding, d.embedding)
           / sqrt(list_inner_product(q.embedding, q.embedding)
                  * list_inner_product(d.embedding, d.embedding)) AS cos_sim
  FROM queries q CROSS JOIN docs d
),
sem_rank AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM sem
),
fused AS (
  SELECT query_id, cand_id, sum(contrib) AS rrf_score
  FROM (
    SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS contrib FROM lex_rank
    UNION ALL
    SELECT query_id, cand_id, 1.0 / (60.0 + rank) AS contrib FROM sem_rank
  ) GROUP BY 1, 2
)
SELECT query_id, cand_id,
       """ + sql_round("rrf_score", 9) + """ AS rrf_score,
       row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, cand_id) AS rank
FROM fused
QUALIFY rank <= 10
"""


@query(
    "hybrid_search_knn",
    oracle=HYBRID_SEARCH_ORACLE,
    description=(
        "Hybrid retrieval: token-overlap lexical leg + exact-cosine semantic leg "
        "fused by reciprocal-rank (1/(60+rank)), top-10 per query doc"
    ),
)
def q_hybrid_search_knn(spark, sf_dir):
    """Hybrid lexical+semantic top-10 per query doc (doc_id % 97 == 3 plays
    the query set) over documents joined to their embeddings."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .join(
            load_table(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id"),
            "doc_id",
        )
        .select("doc_id", "text", "embedding")
    )
    queries = docs.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("query_id"), "text", "embedding"
    )
    out = similarity.hybrid_search(docs, queries, k=10)
    return out.select(
        "query_id", "cand_id", fround(F.col("rrf_score"), 9).alias("rrf_score"), "rank"
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
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", text.calibration_score_col().alias("score"))
    ranked = scored.withColumn(
        "rnk", F.row_number().over(W.partitionBy("source").orderBy(F.desc("score"), "doc_id"))
    ).withColumn("n", F.count(F.lit(1)).over(W.partitionBy("source")))
    return ranked.filter(F.col("rnk") <= F.ceil(F.lit(0.7) * F.col("n"))).select(
        "doc_id", "source", "rnk", fround(F.col("score"), 6).alias("score")
    )


# -- language composition matrix ---------------------------------------------


def _lang_matrix_oracle() -> str:
    from h2outility_spark.workload_text import _N_TOKENS_SQL

    return (
        """
    WITH scored AS (
      SELECT doc_id, source, """
        + _N_TOKENS_SQL
        + """ AS n_tokens,
           """
        + text.langid_sql_columns("text")
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
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        *text.langid_score_columns("text"),
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
    from h2outility_spark.workload_text import _N_TOKENS_SQL

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
    docs = load_table(spark, sf_dir, "documents")
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
    docs = load_table(spark, sf_dir, "documents")
    pfx = docs.select("source", text.prefix_fingerprint("text", 8).alias("pfp"))
    dup = pfx.groupBy("source", "pfp").agg(F.count(F.lit(1)).alias("n"))
    shared = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0)))
    return dup.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        shared.alias("n_shared_prefix"),
        fround(shared.cast("double") / F.sum("n"), 6).alias("shared_prefix_rate"),
    )
