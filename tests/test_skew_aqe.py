"""AQE skew-join demonstration: a deliberately hot join key must trigger
Spark's adaptive skew split (the engine-native path), and the salted
fallback must spread the hot key evenly across its salt buckets.

Decision rule (documented in README's 100 TB section):
  1. small dim            -> broadcast join (no shuffle, skew irrelevant)
  2. sort-merge join path -> AQE skew split handles it (this test's proof)
  3. shuffled-hash / agg  -> deterministic salting (operators/skew.py),
     because AQE's skew handling only rewrites sort-merge joins.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from h2outility_spark.operators.skew import with_salt


@contextmanager
def _confs(spark, **kv):
    saved = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in saved.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def _skewed_frames(spark):
    # 400k-row fact: 90% of rows share key 0, the rest spread over 199 keys
    fact = spark.range(400_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise((F.col("id") % 199) + 1).alias("k"),
        F.col("id").alias("row_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(200).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("dim_payload")
    )
    return fact, dim


def test_aqe_splits_the_skewed_sort_merge_join(spark):
    """With broadcast disabled (forcing the sort-merge path) and test-scale
    skew thresholds, AQE must mark the join skew=true in the final adaptive
    plan — the plan-shape proof that a hot key is split across tasks
    instead of landing on one reducer."""
    fact, dim = _skewed_frames(spark)
    with _confs(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "32KB",
        },
    ):
        joined = fact.join(dim, "k").select("payload")
        # collect() drives THIS DataFrame's QueryExecution (count() would
        # compile a different plan), so its adaptive plan becomes final
        assert len(joined.collect()) == 400_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"


def test_salted_fallback_matches_and_spreads_the_hot_key(spark):
    """Where AQE cannot help (non-SMJ paths), salting must leave no single
    partition holding the hot key alone: the hot key's rows spread across
    all n_salts salt buckets."""
    fact, _dim = _skewed_frames(spark)
    # the hot key occupies all 16 salt buckets (even spread proof)
    buckets = (
        with_salt(fact.filter(F.col("k") == 0), F.col("row_id"))
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(buckets) == 16
    counts = [r["count"] for r in buckets]
    assert max(counts) < 2 * min(counts)  # deterministic hash spread is even
