"""Unit tests: as-of join edges, range join bands, approx-distinct sanity,
IVF search invariants."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Row, functions as F

from h2outility_spark.operators import asof, similarity
from h2outility_spark.sources.parquet import load_table
from tests.conftest import SF_DIR

T0 = datetime(2024, 1, 1)


def ts(h):
    return T0 + timedelta(hours=h)


def test_asof_backward_basic(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(5), lid=1), Row(k="a", ts=ts(1), lid=2)])
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(0), value=10.0), Row(k="a", ts=ts(4), value=40.0), Row(k="a", ts=ts(6), value=60.0)]
    )
    out = {r["lid"]: r for r in asof.asof_join_backward(left, right, ["k"]).collect()}
    assert out[1]["value"] == 40.0 and out[1]["asof_ts"] == ts(4)
    assert out[2]["value"] == 10.0


def test_asof_equal_ts_and_no_match(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(2), lid=1), Row(k="b", ts=ts(2), lid=2)])
    right = spark.createDataFrame([Row(k="a", ts=ts(2), value=1.0)])
    out = {r["lid"]: r for r in asof.asof_join_backward(left, right, ["k"]).collect()}
    assert out[1]["value"] == 1.0  # <= semantics: equal timestamps match
    assert out[2]["value"] is None  # no right rows for key b


def test_asof_tolerance(spark):
    """Backward carries any older row; forward reaches at most 2 hours ahead."""
    right = spark.createDataFrame([Row(k="a", ts=ts(0), value=1.0)])
    back = asof.asof_join_backward(spark.createDataFrame([Row(k="a", ts=ts(10), lid=1)]), right, ["k"]).collect()
    assert back[0]["value"] == 1.0  # 10h back: no tolerance
    left = spark.createDataFrame([Row(k="a", ts=ts(-3), lid=1), Row(k="a", ts=ts(-2), lid=2)])
    fwd = {r["lid"]: r for r in asof.asof_join_forward(left, right, ["k"]).collect()}
    assert fwd[1]["value"] is None  # 3h ahead > 2h tolerance
    assert fwd[2]["value"] == 1.0  # exactly 2h ahead: within


def test_range_join_count_band_edges(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(10), event_id=1)])
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(9)), Row(k="a", ts=ts(11)), Row(k="a", ts=ts(12)), Row(k="b", ts=ts(10))]
    )
    out = asof.range_join_count(left, right, ["k"], "ts", "ts", band_seconds=3600).collect()
    assert out[0]["n_in_band"] == 2  # ±1h: 9h and 11h qualify; 12h and key-b don't


def test_range_join_count_deterministic_across_repartition(spark):
    """The per-row group id must be stable under repartitioning (and thus
    task retry/recompute): identical output for 1-partition and 16-partition
    layouts of the same left side."""
    ev = load_table(spark, SF_DIR, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")

    def run(l):
        rows = asof.range_join_count(l, clicks, ["user_id"], "ts", "ts", band_seconds=86400).collect()
        return sorted(tuple(r) for r in rows)

    assert run(purch.repartition(16)) == run(purch.coalesce(1))


def test_approx_distinct_within_tolerance(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    row = (
        li.agg(
            F.approx_count_distinct("l_partkey").alias("approx"),
            F.count_distinct("l_partkey").alias("exact"),
        ).collect()[0]
    )
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.1


def test_ivf_search_stays_in_cell(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_search(emb, queries, k=3)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    cents = similarity.pack_centroids(similarity.centroids_by_label(emb))
    assert cents.count() == 10
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        # every returned candidate shares one cell per query
        pass
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query_id"], set()).add(labels[r["cand_id"]])
    assert all(len(cells) == 1 for cells in per_query.values())


def test_hybrid_search_rrf_fusion(spark):
    """Hand-computable hybrid retrieval: doc A wins the lexical leg, doc B
    wins the semantic leg, doc C trails both; RRF must rank the two
    leg-winners above C, and the exact RRF scores must match the formula."""
    from pyspark.sql import Row

    from h2outility_spark.operators.similarity import hybrid_search

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark shuffle partitions tuning guide", embedding=[1.0, 0.0, 0.0]),
            Row(doc_id=2, text="unrelated cooking recipe entirely", embedding=[0.9, 0.1, 0.0]),
            Row(doc_id=3, text="gardening tips for spring flowers", embedding=[0.0, 1.0, 0.0]),
        ]
    )
    queries = spark.createDataFrame(
        [Row(query_id=100, text="spark shuffle tuning", embedding=[1.0, 0.0, 0.0])]
    )
    out = hybrid_search(docs, queries)
    rows = {r["cand_id"]: (r["rank"], r["rrf_score"]) for r in out.collect()}

    # lexical ranks: doc1 (3 shared toks) rank1; docs 2,3 share none -> absent
    # semantic ranks: doc1 cos=1 rank1, doc2 ~0.994 rank2, doc3 0 rank3
    assert rows[1][0] == 1 and abs(rows[1][1] - (1 / 61 + 1 / 61)) < 1e-12
    assert rows[2][0] == 2 and abs(rows[2][1] - 1 / 62) < 1e-12
    assert rows[3][0] == 3 and abs(rows[3][1] - 1 / 63) < 1e-12


# (the DuckDB differential for hybrid_search moved to
# workload_similarity.HYBRID_SEARCH_ORACLE + tests/test_oracle_parity.py, which
# checks it at sf0.001 AND sf0.01 under the driver's comparison discipline)


def test_asof_forward_basic_equal_ts_and_no_match(spark):
    left = spark.createDataFrame(
        [Row(k="a", ts=ts(5), lid=1), Row(k="a", ts=ts(4), lid=2), Row(k="a", ts=ts(9), lid=3)]
    )
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(4), value=40.0), Row(k="a", ts=ts(6), value=60.0), Row(k="a", ts=ts(8), value=80.0)]
    )
    out = {r["lid"]: r for r in asof.asof_join_forward(left, right, ["k"]).collect()}
    assert out[1]["value"] == 60.0 and out[1]["asof_ts"] == ts(6)  # earliest at-or-after
    assert out[2]["value"] == 40.0  # >= semantics: equal timestamps match
    assert out[3]["value"] is None  # nothing after ts(9)


def test_asof_forward_tolerance_and_tiebreak(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(0), lid=1), Row(k="a", ts=ts(5), lid=2)])
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(6), value=3.0), Row(k="a", ts=ts(6), value=9.0), Row(k="a", ts=ts(20), value=1.0)]
    )
    out = {r["lid"]: r for r in asof.asof_join_forward(left, right, ["k"]).collect()}
    assert out[1]["value"] is None  # 6h ahead > 2h tolerance
    assert out[2]["value"] == 9.0  # duplicate-ts right rows: largest value wins


def test_asof_tiebreak_outside_payload_cols(spark):
    """The nearest join's tiebreak ``event_id`` is not its payload column:
    it must be carried through the internal projection, both directions."""
    left = spark.createDataFrame([Row(k="a", ts=ts(5), lid=1), Row(k="a", ts=ts(5.5), lid=2)])
    right = spark.createDataFrame(
        [
            Row(k="a", ts=ts(4), click_value=1.0, event_id=2),
            Row(k="a", ts=ts(4), click_value=9.0, event_id=1),
            Row(k="a", ts=ts(6), click_value=3.0, event_id=4),
            Row(k="a", ts=ts(6), click_value=7.0, event_id=3),
        ]
    )
    out = {r["lid"]: r for r in asof.asof_join_nearest(left, right, ["k"]).collect()}
    assert out[1]["asof_direction"] == "backward"
    assert out[1]["click_value"] == 1.0  # event_id=2 is the LARGEST at ts(4)
    assert out[2]["asof_direction"] == "forward"
    assert out[2]["click_value"] == 3.0  # event_id=4 is the LARGEST at ts(6)


def test_asof_matched_row_carried_atomically(spark):
    """A NULL payload value in the matched right row must SURVIVE as NULL —
    per-column ignorenulls scans would splice in another right row's value
    (even one beyond tolerance). The matched row rides as one struct, so
    every payload column comes from the same right row."""
    left = spark.createDataFrame([Row(k="a", ts=ts(1), lid=1)])
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(2), value=None), Row(k="a", ts=ts(3), value=99.0)],
        "k string, ts timestamp, value double",
    )
    fwd = asof.asof_join_forward(left, right, ["k"]).collect()
    assert fwd[0]["asof_ts"] == ts(2)
    assert fwd[0]["value"] is None  # matched row's NULL, not ts(3)'s 99.0

    # mirror: backward must not let a NULL fall through to an OLDER row
    left_b = spark.createDataFrame([Row(k="a", ts=ts(9), lid=1)])
    right_b = spark.createDataFrame(
        [Row(k="a", ts=ts(2), value=77.0), Row(k="a", ts=ts(8), value=None)],
        "k string, ts timestamp, value double",
    )
    back = asof.asof_join_backward(left_b, right_b, ["k"]).collect()
    assert back[0]["asof_ts"] == ts(8)
    assert back[0]["value"] is None  # matched row's NULL, not ts(2)'s 77.0


def test_auto_n_bits_growth_law():
    """Doubling the corpus raises the signature width by EXACTLY one bit
    (ceil(log2(2x)) = ceil(log2 x) + 1), holding expected random-bucket
    occupancy flat — the engine form of the 'bits ~ log2 n' contract."""
    for n in (100, 500, 4_096, 1_000_000, 3_141_592):
        assert similarity.auto_n_bits(2 * n) == similarity.auto_n_bits(n) + 1
    # anchor absolute values: n/target at a power of two
    assert similarity.auto_n_bits(64 * 32) == 6
    assert similarity.auto_n_bits(128 * 32) == 7
    assert similarity.auto_n_bits(1) == 1  # floor


def test_rp_lsh_auto_bits_recall_and_plan(spark):
    """n_bits=None auto-sizes from the corpus count; at the registered 0.45
    threshold the auto config must keep recall 1.0 vs the brute-force
    verifier, and the plan must stay the banded hash-join shape (no
    nested-loop fallback)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    want_bits = similarity.auto_n_bits(n)
    got = similarity.cosine_neardup_pairs_lsh(emb, threshold=0.45, n_bits=None)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs(emb, threshold=0.45).collect()
    }
    assert lsh_pairs == true_pairs  # verify stage filters to exactly the true set
    # the auto width actually applied: signature length = bits * bands
    auto_sig = similarity.rp_lsh_signatures(emb, n_planes=want_bits * 32)
    assert len(auto_sig.first()["rp_sig"]) == want_bits * 32


def test_asof_nearest_directions_ties_tolerance(spark):
    left = spark.createDataFrame(
        [
            Row(k="a", ts=ts(4.5), lid=1),  # 0.5h back vs 2.5h fwd -> backward ts(4)
            Row(k="a", ts=ts(5.5), lid=2),  # equidistant ts(4)/ts(7) -> backward wins tie
            Row(k="a", ts=ts(6.5), lid=3),  # ts(7) fwd (0.5h) beats ts(4) back (2.5h)
            Row(k="a", ts=ts(20), lid=4),   # nearest ts(7) is 13h away -> beyond 2h tolerance
            Row(k="b", ts=ts(1), lid=5),    # no right rows for key b at all
        ]
    )
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(4), click_value=40.0, event_id=1), Row(k="a", ts=ts(7), click_value=100.0, event_id=2)]
    )
    out = {r["lid"]: r for r in asof.asof_join_nearest(left, right, ["k"]).collect()}
    assert out[1]["click_value"] == 40.0 and out[1]["asof_direction"] == "backward"
    assert out[2]["click_value"] == 40.0 and out[2]["asof_direction"] == "backward"  # tie -> backward
    assert out[3]["click_value"] == 100.0 and out[3]["asof_direction"] == "forward"
    assert out[4]["click_value"] is None and out[4]["asof_direction"] is None
    assert out[5]["click_value"] is None

    # duplicate-ts right rows: largest event_id wins in BOTH directions
    right2 = spark.createDataFrame(
        [Row(k="a", ts=ts(4), click_value=1.0, event_id=1), Row(k="a", ts=ts(4), click_value=9.0, event_id=2),
         Row(k="a", ts=ts(7), click_value=2.0, event_id=3), Row(k="a", ts=ts(7), click_value=8.0, event_id=4)]
    )
    out2 = {r["lid"]: r for r in asof.asof_join_nearest(left, right2, ["k"]).collect()}
    assert out2[1]["click_value"] == 9.0   # backward ts(4): largest event_id
    assert out2[3]["click_value"] == 8.0   # forward ts(7): largest event_id

    # equal-ts left/right: distance 0, resolves backward
    left0 = spark.createDataFrame([Row(k="a", ts=ts(4), lid=9)])
    o0 = asof.asof_join_nearest(left0, right, ["k"]).collect()[0]
    assert o0["click_value"] == 40.0 and o0["asof_direction"] == "backward"


def test_lsh_wrapper_forwards_bucket_controls(spark):
    """cosine_neardup_pairs_lsh must pass its bucket controls (n_bits,
    n_bands) through to the banded layer: its pairs are a verified subset
    of rp_lsh_candidate_pairs at the same controls, and a narrow config
    (16 bits, one band) keeps fewer pairs than the default 4 x 32."""
    emb = load_table(spark, SF_DIR, "embeddings")
    narrow = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_lsh(emb, threshold=0.45, n_bits=16, n_bands=1).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in similarity.rp_lsh_candidate_pairs(emb, n_bits=16, n_bands=1).collect()
    }
    assert narrow <= cand
    assert len(narrow) < similarity.cosine_neardup_pairs_lsh(emb, threshold=0.45, n_bits=4).count()


def test_asof_interp_brackets_edges_and_ties(spark):
    """asof_join_interp: exact linear interpolation between brackets,
    constant extrapolation at the edges, equal-ts resolving to the
    backward value, duplicate-(key,ts) right rows resolved by the
    LARGEST tiebreak, and a key with no right rows yielding NULLs."""
    left = spark.createDataFrame(
        [
            Row(k="a", ts=ts(2), lid=1),   # between ts(0)=10 and ts(4)=50 -> 30
            Row(k="a", ts=ts(0), lid=2),   # equal-ts: backward value exactly
            Row(k="a", ts=ts(9), lid=3),   # after the last right row -> backward const
            Row(k="b", ts=ts(1), lid=4),   # before b's only right row -> forward const
            Row(k="c", ts=ts(1), lid=5),   # no right rows at all
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", ts=ts(0), v=10.0, event_id=1),
            Row(k="a", ts=ts(0), v=99.0, event_id=2),  # duplicate ts: event_id=2 wins
            Row(k="a", ts=ts(4), v=50.0, event_id=3),
            Row(k="b", ts=ts(5), v=7.0, event_id=4),
        ]
    )
    out = {
        r["lid"]: r
        for r in asof.asof_join_interp(left, right, ["k"], value_col="v").collect()
    }
    # lid 1: halfway between winner 99.0 at ts(0) and 50.0 at ts(4)
    assert out[1]["method"] == "interp"
    assert abs(out[1]["v_interp"] - (99.0 + (50.0 - 99.0) * 0.5)) < 1e-12
    assert out[1]["ts_before"] == ts(0) and out[1]["ts_after"] == ts(4)
    # lid 2: frac = 0 -> exactly the backward (tiebreak-winning) value
    assert out[2]["method"] == "interp" and out[2]["v_interp"] == 99.0
    # lid 3: nothing after -> constant backward extrapolation
    assert out[3]["method"] == "backward" and out[3]["v_interp"] == 50.0
    assert out[3]["ts_after"] is None
    # lid 4: nothing before -> constant forward extrapolation
    assert out[4]["method"] == "forward" and out[4]["v_interp"] == 7.0
    # lid 5: no brackets at all
    assert out[5]["method"] is None and out[5]["v_interp"] is None


def test_count_min_overestimates_and_merges(spark):
    """The two load-bearing CMS properties: (a) every estimate >= the
    true count (collisions only ADD); (b) grids are mergeable — the grid
    of A union B equals the cell-wise SUM of the two shards' grids, the
    property that lets 100 TB shards/days sketch independently."""
    from h2outility_spark.operators import sketch

    a = spark.createDataFrame([Row(x=i % 7) for i in range(100)])
    b = spark.createDataFrame([Row(x=i % 13) for i in range(50)])
    d, w = 3, 16  # tiny width -> guaranteed collisions, the interesting case

    both = a.unionByName(b)
    cms_both = sketch.count_min_table(both, "x", depth=d, width=w)
    exact = both.groupBy("x").count()
    est = sketch.count_min_estimate(cms_both, exact.select("x"), "x", depth=d, width=w)
    joined = {r["x"]: r for r in exact.join(est, "x").collect()}
    assert joined and all(r["est_n"] >= r["count"] for r in joined.values())

    merged = (
        sketch.count_min_table(a, "x", depth=d, width=w)
        .unionByName(sketch.count_min_table(b, "x", depth=d, width=w))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    lhs = {(r["j"], r["bucket"]): r["c"] for r in cms_both.collect()}
    rhs = {(r["j"], r["bucket"]): r["c"] for r in merged.collect()}
    assert lhs == rhs
