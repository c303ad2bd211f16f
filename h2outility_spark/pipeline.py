"""End-to-end corpus construction: the composition layer over the
operator library — per-source quality gating, exact + near dedup,
benchmark decontamination, shard assignment, transactional commit.

Reference analog: the reference's flagship path is a linear headless
pipeline too (``SilentUpdater.py`` in /root/reference — select, transform,
export), just over sensor series instead of documents; this is the same
shape grown to the training-data use case (SURVEY.md §3.1's lifecycle,
§2's operators as stages).

Every stage is one of the registered, oracle-checked operators; this
module only sequences them and materializes the result into a
``storage_tx.TxTable`` so downstream training jobs read an atomic,
versioned, time-travelable snapshot. Stage counts are returned for
observability (each stage is cached before counting, so the count action
doesn't recompute the chain).

Scale shape: stages communicate through cached batch-sized frames, every
join is either key-bucketed (LSH bands, fingerprints) or broadcastable
(benchmark grams), and the final commit is O(output) staged files plus
one manifest publish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from h2outility_spark.operators import dedup, text
from h2outility_spark.sources.parquet import load_table
from h2outility_spark.storage_tx import TxTable


def quality_gate_per_source(docs: DataFrame, keep_frac: float = 0.7) -> DataFrame:
    """Keep the top ``keep_frac`` of each source by the calibration score
    (alpha ratio + length saturation) — the per-source percentile gate of
    the ``quality_calibrate_per_source`` query, applied instead of merely
    reported. Deterministic under ties (rank falls back to doc_id)."""
    scored = docs.withColumn("__score", text.calibration_score_col())
    ranked = scored.withColumn(
        "__rn", F.row_number().over(W.partitionBy("source").orderBy(F.desc("__score"), "doc_id"))
    ).withColumn("__n", F.count(F.lit(1)).over(W.partitionBy("source")))
    return (
        ranked.filter(F.col("__rn") <= F.ceil(F.lit(keep_frac) * F.col("__n")))
        .drop("__score", "__rn", "__n")
    )


def build_corpus(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    keep_frac: float = 0.7,
    benchmark: DataFrame | None = None,
    max_shared_grams: int = 0,
    n_shards: int = 16,
) -> dict:
    """Run the full corpus-construction pipeline over ``{sf_dir}/documents``
    and commit the result to a TxTable at ``table_dir``. Returns per-stage
    surviving counts plus the committed version.

    Stages (each strictly narrows the corpus):
      1. null-text drop + per-source quality gate (top ``keep_frac`` by
         calibrated score within each source);
      2. exact dedup — one representative (min id) per normalized
         fingerprint;
      3. near dedup — the one MinHash chain of ``operators/dedup.py``:
         LSH candidates over its fixed band layout, exact Jaccard
         verification at its >= 0.2 bar, connected components, one
         canonical doc per cluster;
      4. decontamination (when ``benchmark`` docs are given) — drop docs
         sharing more than ``max_shared_grams`` distinct trigrams with the
         benchmark;
      5. deterministic shard assignment (md5 bucket % ``n_shards``) and an
         atomic ``overwrite`` commit (re-running the pipeline replaces the
         corpus as one snapshot; history keeps the previous builds).
    """
    docs = load_table(spark, sf_dir, "documents")
    stats: dict = {"input": docs.count()}

    gated = quality_gate_per_source(
        docs.filter(F.col("text").isNotNull()), keep_frac
    ).cache()
    stats["quality_gated"] = gated.count()

    groups = dedup.exact_dedup_groups(gated)
    uniq = gated.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    ).cache()
    stats["exact_unique"] = uniq.count()

    sigs = dedup.minhash_signatures(uniq)
    pairs = dedup.lsh_candidate_pairs(sigs)
    clusters = dedup.connected_components(dedup.jaccard_for_pairs(pairs, uniq))
    canon = dedup.canonical_docs(uniq, clusters).cache()
    stats["near_canonical"] = canon.count()

    if benchmark is not None:
        contaminated = (
            text.contamination_overlap(canon, benchmark)
            .filter(F.col("n_shared_grams") > max_shared_grams)
            .select("doc_id")
        )
        clean = canon.join(contaminated, "doc_id", "left_anti").cache()
        stats["decontaminated"] = clean.count()
    else:
        clean = canon

    shard = F.expr(
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS INT) % {n_shards}"
    )
    final = clean.select(
        "doc_id",
        "text",
        "lang",
        "source",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        shard.alias("shard"),
    )
    table = TxTable(spark, table_dir, key_cols=["doc_id"])
    version = table.overwrite(final)
    stats["committed"] = table.snapshot().count()
    stats["version"] = version
    for c in (gated, uniq, canon, clean):
        c.unpersist()
    return stats
