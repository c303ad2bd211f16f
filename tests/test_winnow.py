"""Winnowing fingerprint properties: the paper's coverage guarantee (any
shared token run of >= w+k-1 tokens yields a shared fingerprint, k = 3 and
w = 4), short-doc degeneration, and the >= 2 shared fingerprints pair rule."""

from __future__ import annotations

from h2outility_spark.operators import dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_shared_long_run_guarantees_shared_fingerprint(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens >= w+k-1=6
    docs = _docs(
        spark,
        [
            (1, f"unrelated prefix one {shared} totally different tail here"),
            (2, f"other words {shared} and another ending entirely"),
        ],
    )
    fps = dedup.winnow_fingerprints(docs).collect()
    by_doc = {d: {r["fp"] for r in fps if r["doc_id"] == d} for d in (1, 2)}
    assert by_doc[1] & by_doc[2]


def test_short_docs_degenerate_sanely(spark):
    docs = _docs(
        spark,
        [
            (1, "only two"),            # < k tokens: no fingerprints
            (2, "just three tokens"),   # exactly k: one k-gram -> one fp
            (3, "   "),                 # blank: dropped
        ],
    )
    fps = {r["doc_id"]: r["fp"] for r in dedup.winnow_fingerprints(docs).collect()}
    assert 1 not in fps and 3 not in fps
    assert 2 in fps


def test_disjoint_docs_share_nothing(spark):
    docs = _docs(
        spark,
        [
            (1, "aa bb cc dd ee ff gg hh"),
            (2, "one two three four five six seven eight"),
        ],
    )
    fps = dedup.winnow_fingerprints(docs)
    assert not {r["fp"] for r in fps.filter("doc_id = 1").collect()} & {r["fp"] for r in fps.filter("doc_id = 2").collect()}
    assert dedup.winnow_neardup_pairs(fps).count() == 0


def test_giant_bucket_cap_bounds_pairs(spark):
    # 30 docs all containing the same 12-token boilerplate run -> hot
    # fingerprint buckets with no cap: the cluster pairs fully (every pair
    # shares >= 2 fingerprints), and the identical small pair survives too
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    rows = [(i, f"doc number {i} says {boiler}") for i in range(30)]
    rows += [(100, "rare shared secret phrase appears here today friends"),
             (101, "rare shared secret phrase appears here today friends")]
    pairs = dedup.winnow_neardup_pairs(dedup.winnow_fingerprints(_docs(spark, rows)))
    assert pairs.filter("id_b < 100").count() == 30 * 29 // 2
    assert pairs.filter("id_a = 100 AND id_b = 101").count() == 1


def test_pairs_need_two_shared_fingerprints(spark):
    # a 6-token shared run (w+k-1) shares one fingerprint: not a pair; a
    # 12-token run of distinct tokens spans two disjoint windows: a pair
    short = "alpha beta gamma delta epsilon zeta"
    long = "one two three four five six seven eight nine ten eleven twelve"
    docs = _docs(
        spark,
        [
            (1, f"unrelated prefix {short} tail words"),
            (2, f"other opening {short} closing phrase"),
            (3, f"first doc {long} ends"),
            (4, f"second doc {long} finishes"),
        ],
    )
    pairs = dedup.winnow_neardup_pairs(dedup.winnow_fingerprints(docs)).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(3, 4)]
    assert pairs[0]["n_shared"] >= 2
