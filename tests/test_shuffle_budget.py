"""Shuffle budgets: the number of shuffle exchanges in a plan is the
engine's scale signature — at 100 TB each extra Exchange is a full
re-materialization of the stream. Pin the observed counts for the flagship
queries so a refactor that silently adds a shuffle (e.g. a pivot falling
back to two-phase, a window picking up a second partitioning, a join
losing its broadcast) fails CI instead of the cluster.

Counts are from the INITIAL physical plan at sf0.001 with the test
session's broadcast thresholds; broadcasts are counted separately because
a broadcast->shuffle flip is a different regression than an added
aggregation phase."""

from __future__ import annotations

import re

import pytest

from h2outility_spark import workload
from tests.conftest import SF_DIR

#: query -> (max shuffle exchanges, max broadcast exchanges)
BUDGETS = {
    # single-shuffle flagships: one logical regroup, no hidden second phase
    "wide_export": (1, 0),        # pivot as conditional agg, NOT two-phase .pivot()
    "series_catalog": (1, 0),
    "tpch_q1": (1, 0),
    "asof_join": (1, 0),          # union-sort-carry: one shuffle on the key
    "sessionization": (1, 0),
    "qc_interpolate": (1, 0),
    "dedup_exact_docs": (1, 0),
    "minhash_signatures": (1, 0),  # 128 min-aggs ride ONE explode->groupBy
    "last_per_series": (1, 0),
    # zero-shuffle scans
    "extract_filtered": (0, 0),
    "text_stats": (0, 0),
    # joins: dims must broadcast, the fact stream shuffles at most once
    "tpch_q3": (1, 2),
    "tpch_q5": (1, 5),            # the whole star is broadcast-side
    # multi-stage pipelines: budget = their designed stage count
    "segment_dedup_docs": (2, 0),  # hash-window + reassembly groupBy
    "pq_codes": (3, 1),
    "corpus_clean": (4, 2),
    # round-6 media paths: the codec runs inside mapInPandas, so the
    # binary column NEVER enters an exchange — features are narrow maps,
    # only the downstream regroup (VAD islands window, dhash band join)
    # may shuffle
    "image_dhash": (0, 0),
    "audio_window_features": (0, 0),
    "image_features_jpeg": (0, 0),
    "audio_vad_segments": (1, 0),   # one window shuffle keyed by asset
    "image_neardup": (1, 1),        # band-key self-join: 1 shuffle + 1 broadcast
    # round-9 promotions: the new flagship shapes
    "chunk_sliding": (0, 0),        # RAG chunking is a pure narrow map
    "series_ohlc": (1, 0),          # ordered aggs ride ONE hash aggregate
    "grouped_percentiles": (1, 0),
    "rolling_corr": (1, 0),         # one window shuffle on the series key
    "winsorize_values": (1, 1),     # percentile agg shuffles once; bounds broadcast back
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark, name):
    # Another test may have .cache()d a shared intermediate (e.g. the
    # minhash signature frame) — an InMemoryRelation swaps part of the
    # plan and changes the exchange profile. Budgets are about the COLD
    # plan, so measure without cache entries.
    spark.catalog.clearCache()
    max_shuffles, max_broadcasts = BUDGETS[name]
    plan = (
        workload.registry()[name]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    broadcasts = plan.count("BroadcastExchange")
    assert shuffles <= max_shuffles, (
        f"{name}: {shuffles} shuffle exchanges (budget {max_shuffles}) — "
        f"a regroup phase crept in:\n{plan[:1500]}"
    )
    assert broadcasts <= max_broadcasts, (
        f"{name}: {broadcasts} broadcast exchanges (budget {max_broadcasts})"
    )


def test_staged_asof_forward_budget(spark):
    """The round-8 forward as-of must keep the backward variant's
    one-shuffle shape (union-sort-carry on the key, no hidden regroup)."""
    spark.catalog.clearCache()
    from h2outility_spark.workload_qc import q_asof_join_forward

    plan = (
        q_asof_join_forward(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    assert shuffles <= 1, f"forward as-of grew a second shuffle:\n{plan[:1500]}"
    assert plan.count("BroadcastExchange") == 0


def test_staged_asof_nearest_budget(spark):
    """The round-9 staged nearest as-of runs BOTH directional carries in
    one pass: still exactly one shuffle on the key (the two window
    orderings differ only in tiebreak direction — an in-partition re-sort,
    never a second exchange), and no broadcast."""
    spark.catalog.clearCache()
    from h2outility_spark.workload_qc import q_asof_join_nearest

    plan = (
        q_asof_join_nearest(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange (hash|range|Single)", plan))
    assert shuffles <= 1, f"nearest as-of grew a second shuffle:\n{plan[:1500]}"
    assert plan.count("BroadcastExchange") == 0
