"""Property tests (hypothesis) for the interpolation operator — SURVEY.md
§5's recommended invariants: anchors preserved, interpolated values bounded
by their anchors, edge runs untouched."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from h2outility_spark.operators import asof, qc

T0 = datetime(2024, 1, 1)

series_strategy = st.lists(
    st.tuples(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=32),
        st.booleans(),  # selected?
    ),
    min_size=2,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(series_strategy)
def test_interpolation_invariants(spark, data):
    rows = [
        Row(sid=1, ts=T0 + timedelta(hours=i), value=float(v), selected=sel, idx=i)
        for i, (v, sel) in enumerate(data)
    ]
    df = spark.createDataFrame(rows)
    out = {r["idx"]: r["value"] for r in qc.interpolate_selected(df, ["sid"], ts="ts", value="value").collect()}

    n = len(data)
    for i, (v, sel) in enumerate(data):
        if not sel:
            # anchors never move
            assert out[i] == float(v)
            continue
        prev_anchor = next((j for j in range(i - 1, -1, -1) if not data[j][1]), None)
        next_anchor = next((j for j in range(i + 1, n) if not data[j][1]), None)
        if prev_anchor is None or next_anchor is None:
            # runs touching a series end are left unchanged
            assert out[i] == float(v)
        else:
            lo = min(float(data[prev_anchor][0]), float(data[next_anchor][0]))
            hi = max(float(data[prev_anchor][0]), float(data[next_anchor][0]))
            assert lo - 1e-9 <= out[i] <= hi + 1e-9


asof_strategy = st.tuples(
    # left observation hours (duplicates allowed — equal timestamps must work)
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=10),
    # right (ts hour, payload) — duplicate hours exercise the tie rule
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=99)),
        min_size=0,
        max_size=10,
    ),
)


@settings(max_examples=15, deadline=None)
@given(asof_strategy)
def test_asof_join_matches_bruteforce(spark, data):
    """asof_join_backward(union-sort-carry) == the brute-force definition:
    for each left row, the value of the newest right row with
    right.ts <= left.ts. Backward has no tiebreak, so the right side keeps
    one row per timestamp."""
    left_hours, right_rows = data
    left = spark.createDataFrame(
        [Row(k="a", ts=T0 + timedelta(hours=h), lid=i) for i, h in enumerate(left_hours)]
    )
    right_sorted = sorted(dict(right_rows).items())
    if right_rows:
        right = spark.createDataFrame(
            [Row(k="a", ts=T0 + timedelta(hours=h), value=float(v)) for h, v in right_sorted]
        )
    else:
        right = spark.createDataFrame([], "k string, ts timestamp, value double")

    out = {r["lid"]: r["value"] for r in asof.asof_join_backward(left, right, ["k"]).collect()}

    for i, h in enumerate(left_hours):
        eligible = [(rh, rv) for rh, rv in right_sorted if rh <= h]
        expected = float(eligible[-1][1]) if eligible else None
        assert out[i] == expected, f"left hour {h}: {out[i]} != {expected}"


@settings(max_examples=15, deadline=None)
@given(asof_strategy)
def test_asof_forward_matches_bruteforce(spark, data):
    """asof_join_forward == the brute-force definition: for each left row,
    the value of the OLDEST right row with 0 <= right.ts - left.ts <= 2h
    (ties on right.ts resolved to the LARGEST value)."""
    from h2outility_spark.operators.asof import asof_join_forward

    left_hours, right_rows = data
    left = spark.createDataFrame(
        [Row(k="a", ts=T0 + timedelta(hours=h), lid=i) for i, h in enumerate(left_hours)]
    )
    right_sorted = sorted(right_rows, key=lambda r: (r[0], r[1]))
    if right_rows:
        right = spark.createDataFrame(
            [Row(k="a", ts=T0 + timedelta(hours=h), value=float(v)) for h, v in right_sorted]
        )
    else:
        right = spark.createDataFrame([], "k string, ts timestamp, value double")

    out = {r["lid"]: r["value"] for r in asof_join_forward(left, right, ["k"]).collect()}

    for i, h in enumerate(left_hours):
        eligible = [(rh, rv) for rh, rv in right_sorted if h <= rh <= h + 2]
        if eligible:
            first_h = eligible[0][0]
            # largest payload among the earliest eligible hour wins
            expected = float(max(rv for rh, rv in eligible if rh == first_h))
        else:
            expected = None
        assert out[i] == expected, f"left hour {h}: {out[i]} != {expected}"


@settings(max_examples=15, deadline=None)
@given(asof_strategy)
def test_asof_nearest_matches_bruteforce(spark, data):
    """asof_join_nearest == the brute-force definition: for each left row,
    the right row minimizing |right.ts − left.ts| within 2 hours, an
    equidistant backward/forward pair resolved BACKWARD, and duplicate-ts
    right rows resolved to the LARGEST event_id (here equal to the value)."""
    from h2outility_spark.operators.asof import asof_join_nearest

    left_hours, right_rows = data
    left = spark.createDataFrame(
        [Row(k="a", ts=T0 + timedelta(hours=h), lid=i) for i, h in enumerate(left_hours)]
    )
    right_sorted = sorted(right_rows, key=lambda r: (r[0], r[1]))
    if right_rows:
        right = spark.createDataFrame(
            [Row(k="a", ts=T0 + timedelta(hours=h), click_value=float(v), event_id=v) for h, v in right_sorted]
        )
    else:
        right = spark.createDataFrame([], "k string, ts timestamp, click_value double, event_id long")

    out = {
        r["lid"]: (r["click_value"], r["asof_direction"])
        for r in asof_join_nearest(left, right, ["k"]).collect()
    }

    for i, h in enumerate(left_hours):
        eligible = [(rh, rv) for rh, rv in right_sorted if abs(rh - h) <= 2]
        if not eligible:
            assert out[i] == (None, None), f"left hour {h}: {out[i]}"
            continue
        best_d = min(abs(rh - h) for rh, rv in eligible)
        back = [rv for rh, rv in eligible if h - rh == best_d]
        fwd = [rv for rh, rv in eligible if rh - h == best_d]
        if back:  # backward wins ties (including distance 0)
            expected = (float(max(back)), "backward")
        else:
            expected = (float(max(fwd)), "forward")
        assert out[i] == expected, f"left hour {h}: {out[i]} != {expected}"
