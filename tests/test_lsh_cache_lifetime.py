"""The RP-LSH banded persist must not accumulate across queries (ADVICE
r14 / VERDICT r14 #3): each rp_lsh_candidate_pairs call evicts the previous
call's banded frame, so a long-lived session holds at most one live banded
cache entry."""

from __future__ import annotations

from h2outility_spark import workload
from h2outility_spark.operators import similarity
from tests.conftest import SF_DIR


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_repeated_lsh_queries_do_not_grow_the_session_cache(spark):
    spark.catalog.clearCache()
    spec = workload.REGISTRY["neardup_embedding_strict"]

    first = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))
    after_first = _n_persistent(spark)
    assert after_first >= 1  # the in-flight query's banded frame is cached

    counts = []
    rows = None
    for _ in range(3):
        rows = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))
        counts.append(_n_persistent(spark))

    # no growth across repeated LSH queries in one session...
    assert all(c <= after_first for c in counts), (after_first, counts)
    # ...and eviction does not change what the query computes
    assert rows == first


class _DeadFrame:
    """A banded frame whose session is gone: unpersist raises."""

    def unpersist(self, blocking=False):
        raise RuntimeError("SparkContext was shut down")


def test_failed_eviction_does_not_fail_the_next_build(spark):
    spark.catalog.clearCache()
    spec = workload.REGISTRY["neardup_embedding_strict"]
    expected = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))

    dead = _DeadFrame()
    similarity._LIVE_BANDED.insert(0, dead)
    rows = sorted(map(tuple, spec.fn(spark, SF_DIR).collect()))

    assert rows == expected
    assert dead not in similarity._LIVE_BANDED
    assert len(similarity._LIVE_BANDED) == 1
