"""Whole-registry physical-plan audit: no query may introduce a Cartesian
product or an unplanned nested-loop join. BroadcastNestedLoopJoin is
legitimate ONLY for 1-row scalar broadcasts (watermark, global threshold,
corpus count, funnel stage counts, Q22's correlated average) and the two
intentional brute-force baselines — everything else must hash/sort-merge
join. A new query landing in this list by accident is a 100 TB scale bug
caught at test time."""

from __future__ import annotations

import re

import pytest

from h2outility_spark import workload
from tests.conftest import SF_DIR

BNLJ_ALLOWED = {
    "extract_incremental",  # 1-row watermark broadcast
    "ivf_search",  # query-vectors x broadcast centroid table (both tiny)
    "ivf_search_adaptive",  # same shape: vectors x broadcast packed centroids
    # (ivf_assign_multi) + query x centroid probe — the canonical IVF
    # assignment plan; the broadcast side is k<=128 centroid rows
    "embedding_knn",  # brute-force baseline by design (IVF/LSH are the scale paths)
    "tfidf_top_terms",  # 1-row corpus-count broadcast
    "bm25_topk_docs",  # 1-row (n_docs, avgdl) stats broadcast
    "weekly_pctl_rollup",  # 1-row global min/max bin-edge broadcast
    "mixture_temperature_plan",  # two 1-row broadcasts: total tokens + normalizer
    "pack_conservation_cert",  # 1-row corpus-stats broadcast x 1-row bin-stats
    "neardup_embedding_pairs",  # brute-force verifier (neardup_embedding_lsh is the scale path)
    "pq_search",  # ADC scan: query-set broadcast against compressed codes by design
    "ivfpq_search",  # query x broadcast centroid table for cell probing (both tiny)
    "ivfpq_search_adaptive",  # same three tiny-broadcast centroid probes
    # (ivf_assign_multi + adaptive cell selection + PQ codebook probe)
    "funnel_conversion",  # three 1-row stage counts joined
    "tpch_q22_idle_rich_customers",  # correlated scalar average (1-row broadcast)
    "tpch_q11_value_share",  # 1-row global-threshold broadcast
    "hybrid_search_knn",  # semantic leg: tiny query set broadcast x docs by
    # design (operators/similarity.hybrid_search; IVF/PQ are the scale paths
    # when the query set grows)
    "bloom_prefilter_revenue",  # two 1-row count broadcasts (n_cand, n_total)
    "unigram_logprob_buckets",  # 1-row total-token-count broadcast
}


@pytest.mark.slow
def test_no_unplanned_nested_loop_joins(spark):
    offenders: dict[str, list[str]] = {}
    for name, spec in workload.registry().items():
        plan = spec.fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        flags = [b for b in ("CartesianProduct", "BroadcastNestedLoopJoin") if b in plan]
        if "CartesianProduct" in flags or ("BroadcastNestedLoopJoin" in flags and name not in BNLJ_ALLOWED):
            offenders[name] = flags
    assert not offenders, f"unplanned nested-loop/cartesian plans: {offenders}"


@pytest.mark.slow
def test_bnlj_allowlist_is_tight(spark):
    """Every allowlisted name must still be registered and still plan a
    BNLJ — stale entries would quietly widen the allowlist."""
    reg = workload.registry()
    stale = [n for n in BNLJ_ALLOWED if n not in reg]
    assert not stale, f"allowlisted queries no longer registered: {stale}"
    no_longer = []
    for name in sorted(BNLJ_ALLOWED):
        plan = reg[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "BroadcastNestedLoopJoin" not in plan:
            no_longer.append(name)
    assert not no_longer, f"remove from allowlist (no BNLJ anymore): {no_longer}"


@pytest.mark.slow
def test_txtable_prune_scan_reads_one_file(spark):
    """The pruning economics behind txtable_prune_scan: a [250, 499]
    range over four bucket-disjoint files must plan exactly ONE file into
    the scan (manifest stats answer the file-level question)."""
    df = workload.registry()["txtable_prune_scan"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m, f"no file index in plan: {plan[:500]}"
    assert m.group(1) == "1", f"expected 1 pruned file, scan reads {m.group(1)}"
    # and the residual range filter still reaches the parquet reader
    assert "GreaterThanOrEqual(key_bucket" in plan and "LessThanOrEqual(key_bucket" in plan


@pytest.mark.slow
def test_bucketed_join_plans_without_exchange_on_join_inputs(spark):
    """The layout economics behind bucketed_join_orders: with broadcast
    disabled, the bucketed fact-dim join must sort-merge WITHOUT an
    Exchange on either input (bucket-to-bucket reads) — the only
    exchange in the whole plan is the tiny post-join rollup's."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = workload.registry()["bucketed_join_orders"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:800]
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 1, f"expected <=1 Exchange (rollup only), got {n_exchange}:\n{plan[:1200]}"


# -- InferFiltersFromGenerate hazard (VERDICT r14 #4) ------------------------
#
# The r14 optimization round hit the same optimizer pathology twice: for a
# plain (non-outer) Generate, InferFiltersFromGenerate synthesizes a
# `size(gen_input) > 0` predicate, and predicate pushdown then substitutes
# the ENTIRE staged expression pipeline — tokenizer included — into a Filter
# below the staging projects, re-evaluating the regexp per sequence element
# (O(tokens^2) per doc; measured 21 s / 42 s on the shingle rewrites, R1).
# The shipped trees dodge it with posexplode_outer + an explicit null filter
# on generator OUTPUT (which cannot sink). These tests mechanize the rule so
# a future edit cannot silently reintroduce the hazard.

TOKENIZED_GENERATE_QUERIES = [
    # every registered query whose plan stages a regexp tokenizer below a
    # Generate (the chunking + shingle families and their riders)
    "chunk_sliding",
    "stream_chunk_flow",
    "rag_prep_pipeline",
    "rag_prep_sharded",
    "minhash_signatures",
    "neardup_minhash_pairs",
]


def _tokenizer_filter_lines(plan: str) -> list[str]:
    """Lines of an optimized-plan tree where a Filter CONDITION evaluates
    the tokenizer — the signature of the re-inlining hazard. regexp_replace
    in a Project is the staged (healthy) shape; in a Filter it means
    predicate pushdown substituted the pipeline below the staging."""
    return [
        ln
        for ln in plan.splitlines()
        if "Filter" in ln.split("(", 1)[0] and "regexp_replace" in ln
    ]


def test_no_tokenizer_reinlined_into_filters(spark):
    offenders = {}
    for name in TOKENIZED_GENERATE_QUERIES:
        df = workload.registry()[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bad = _tokenizer_filter_lines(plan)
        if bad:
            offenders[name] = bad[0][:200]
    assert not offenders, f"tokenizer re-inlined into a Filter: {offenders}"


def test_hazard_rule_catches_the_plain_generate_form(spark):
    """Self-check that the rule above has teeth: the plain-posexplode form
    of chunk_sliding (no outer generate, no null filter) must TRIP the
    detector on this Spark version — if it ever stops tripping, the
    optimizer changed and the posexplode_outer staging deserves a re-measure
    (it exists purely to dodge this rule's hazard)."""
    from pyspark.sql import functions as F

    from h2outility_spark.operators.text import normalize_ws

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    size, stride = 64, 48
    cleaned = docs.select(F.col("doc_id"), normalize_ws(F.col("text")).alias("__clean"))
    toked = cleaned.select(F.col("doc_id"), F.split(F.col("__clean"), " ").alias("__toks"), F.col("__clean"))
    counted = toked.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.when(F.length("__clean") == 0, F.lit(0)).otherwise(F.size("__toks")).alias("__n"),
    )
    started = counted.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.col("__n"),
        F.expr(
            f"CASE WHEN __n = 0 THEN array() "
            f"ELSE filter(sequence(0, __n - 1, {stride}), s -> s = 0 OR s - {stride} + {size} < __n) END"
        ).alias("__starts"),
    )
    hazard = started.select(
        F.col("doc_id"),
        F.col("__toks"),
        F.col("__n"),
        F.posexplode(F.col("__starts")).alias("chunk_idx", "start_tok"),  # plain generate: hazard
    )
    plan = hazard._jdf.queryExecution().optimizedPlan().toString()
    assert _tokenizer_filter_lines(plan), (
        "plain posexplode no longer re-inlines the tokenizer into a Filter on "
        "this Spark version — re-measure whether the posexplode_outer staging "
        "in operators/text.py::chunk_sliding is still needed"
    )
