"""A query's caches live until the same session's next query starts
(``session.query_cache`` records them, the ``query`` wrapper releases
them): repeated queries do not grow the session's cache, a query's release
leaves other sessions' entries alone, and a recorded frame whose session is
gone does not fail the next build."""

from __future__ import annotations

from h2outility_spark import session, workload
from tests.conftest import SF_DIR


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(spark, name: str) -> list[tuple]:
    return sorted(map(tuple, workload.REGISTRY[name].fn(spark, SF_DIR).collect()))


def test_repeated_lsh_queries_do_not_grow_the_session_cache(spark):
    spark.catalog.clearCache()
    first = _run(spark, "neardup_embedding_strict")
    after_first = len(_persistent(spark))
    assert after_first >= 1  # the in-flight query's banded frame is cached

    counts = []
    rows = None
    for _ in range(3):
        rows = _run(spark, "neardup_embedding_strict")
        counts.append(len(_persistent(spark)))

    # no growth across repeated LSH queries in one session...
    assert all(c <= after_first for c in counts), (after_first, counts)
    # ...and the release does not change what the query computes
    assert rows == first


def test_next_query_releases_a_non_lsh_query_caches(spark):
    spark.catalog.clearCache()
    before = _persistent(spark)
    _run(spark, "neardup_winnow_pairs")
    held = _persistent(spark) - before
    assert held  # the fingerprint frame both join sides read

    _run(spark, "winnow_fingerprints")
    assert not held & _persistent(spark)


def test_a_query_releases_only_its_own_session_caches(spark):
    other = spark.newSession()
    spark.catalog.clearCache()
    before = _persistent(spark)
    _run(other, "neardup_winnow_pairs")
    held = _persistent(spark) - before
    assert held

    _run(spark, "winnow_fingerprints")
    assert held <= _persistent(spark)

    _run(other, "winnow_fingerprints")
    assert not held & _persistent(spark)


class _DeadFrame:
    """A recorded frame whose session is gone: unpersist raises."""

    def unpersist(self, blocking=False):
        raise RuntimeError("SparkContext was shut down")


def test_failed_eviction_does_not_fail_the_next_build(spark):
    spark.catalog.clearCache()
    expected = _run(spark, "neardup_embedding_strict")

    dead = _DeadFrame()
    session._QUERY_CACHES[spark].insert(0, dead)
    rows = _run(spark, "neardup_embedding_strict")

    assert rows == expected
    assert dead not in session._QUERY_CACHES[spark]
    assert len(session._QUERY_CACHES[spark]) == 1
