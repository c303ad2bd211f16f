"""As-of and range joins — time-alignment operators Spark lacks natively.

The reference aligns series by pivoting on shared timestamps (SURVEY.md
§2.3: "time alignment across series is done by the pivot, not an as-of
join") — which only works when sensors share a clock. These operators are
the general alignment surface a timeseries engine needs.

Implementations are pure DataFrame compositions (option (a) of the custom-
operator ladder): no UDFs, no per-group pandas.

As-of join (backward): for each left row, the newest right row with
``right.ts <= left.ts`` (within the same key).
  Strategy: union both sides tagged, sort by (key, ts, side) in ONE window
  pass, carry the last-seen right payload forward with an ignore-nulls
  window scan, keep left rows. One shuffle on the key columns — same cost
  as a regular join, regardless of time skew. This is the classic
  union-sort-carry formulation (vs. pandas merge_asof's per-group merge).

Range join: equi-key + bounded time band. Bucketize the time dimension to
the band width, equi-join on (key, bucket) for the 3 candidate buckets,
then filter the exact band — turns an inequality join (BroadcastNestedLoop
at worst) into a hash join with 3x fan-out, which scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def _union_tagged(left, right, keys, payload_cols, tiebreak, left_side, right_side):
    """Shared prep for every as-of variant: project the right side narrow
    (__rts + __p_* payloads, plus the tiebreak as __tb_raw when it is not a
    payload column), tag both sides with __side/__ts, resolve the tiebreak
    to __tb, union. The ``*_side`` integers decide who sorts first at equal
    timestamps — the one semantic difference between the variants' unions.
    Kept as ONE function so a semantic fix (like round 8's atomic struct
    carry) lands everywhere at once."""
    carry_tb = tiebreak is not None and tiebreak not in payload_cols
    lt = left.withColumn("__side", F.lit(left_side)).withColumn("__ts", F.col("ts"))
    rt = (
        right.select(
            *keys,
            F.col("ts").alias("__rts"),
            *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
            *([F.col(tiebreak).alias("__tb_raw")] if carry_tb else []),
        )
        .withColumn("__side", F.lit(right_side))
        .withColumn("__ts", F.col("__rts"))
    )
    if tiebreak is not None:
        rt = rt.withColumn("__tb", F.col("__tb_raw" if carry_tb else f"__p_{tiebreak}")).drop("__tb_raw")
        lt = lt.withColumn("__tb", F.lit(None))
    return lt.unionByName(rt, allowMissingColumns=True)


def _right_row_struct(right_side: int, payload_cols):
    """The atomic carry unit: ONE struct per right row (non-null exactly
    when a right row exists), never per-column scans — a per-column
    first/last(ignorenulls) would replace a NULL payload value in the
    matched row with ANOTHER row's value (even one beyond tolerance),
    mixing columns across rows. Struct carry preserves matched-row NULLs —
    the semantics DuckDB ASOF JOIN / pandas merge_asof give."""
    return F.when(
        F.col("__side") == right_side,
        F.struct(F.col("__rts"), *[F.col(f"__p_{c}") for c in payload_cols]),
    )


def _bracket_carries(left, right, keys, payload_cols):
    """The left rows with both directional carries of the right row struct:
    ``__cb`` (newest at-or-before) and ``__cf`` (oldest strictly-after),
    over ONE exchange on the keys. Among duplicate (keys, ts) right rows
    the largest right ``event_id`` wins either way."""
    both = _union_tagged(left, right, keys, payload_cols, "event_id", left_side=1, right_side=0)
    wb = W.partitionBy(*keys).orderBy("__ts", "__side", F.col("__tb").asc_nulls_first()).rowsBetween(
        W.unboundedPreceding, 0
    )
    wf = W.partitionBy(*keys).orderBy("__ts", "__side", F.col("__tb").desc_nulls_last()).rowsBetween(
        0, W.unboundedFollowing
    )
    carry = _right_row_struct(0, payload_cols)
    carried = both.select(
        "*",
        F.last(carry, ignorenulls=True).over(wb).alias("__cb"),
        F.first(carry, ignorenulls=True).over(wf).alias("__cf"),
    )
    return carried.filter(F.col("__side") == 1)


def asof_join_backward(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """For each left row: the right ``value`` of the newest right row
    at-or-before it (NULL when no right row precedes), with its timestamp
    as ``asof_ts``. No tolerance and no tiebreak: duplicate (keys, ts)
    right rows make the carried value partition-order-dependent — the same
    unspecified choice DuckDB's ASOF JOIN makes.
    """
    # right rows (side 0) sort before left rows at equal timestamps → "<="
    # semantics
    both = _union_tagged(left, right, keys, ["value"], None, left_side=1, right_side=0)
    w = W.partitionBy(*keys).orderBy("__ts", "__side").rowsBetween(W.unboundedPreceding, 0)
    carry = _right_row_struct(0, ["value"])
    carried = both.select("*", F.last(carry, ignorenulls=True).over(w).alias("__carry"))
    return carried.filter(F.col("__side") == 1).select(
        *left.columns, F.col("__carry.__rts").alias("asof_ts"), F.col("__carry.__p_value").alias("value")
    )


#: How far the forward and nearest joins reach: 2 hours, in microseconds.
_TOLERANCE_US = 7200 * 1_000_000


def asof_join_forward(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """For each left row: the right ``value`` of the OLDEST right row
    at-or-after it, at most 2 hours ahead (NULL beyond) — the mirror of
    :func:`asof_join_backward` (same union-sort-carry shape, one shuffle on
    the keys, no per-group pandas). The natural direction for "next event
    after": next click after a purchase, next maintenance visit after an
    alarm, the reading that closes an interval.

    Duplicate (keys, ts) right rows are resolved by ``value``: the LARGEST
    wins the carry, keeping the result partition-order-independent.
    """
    # left rows (side 0) sort BEFORE right rows at equal timestamps, so the
    # forward-looking window still sees an equal-ts right row → ">="
    # semantics; among equal-ts right rows the DESC tiebreak puts the
    # winner first (left rows sit earlier by __side, so their null __tb
    # never reorders them relative to right rows)
    both = _union_tagged(left, right, keys, ["value"], "value", left_side=0, right_side=1)
    order = ["__ts", "__side", F.col("__tb").desc_nulls_last()]
    w = W.partitionBy(*keys).orderBy(*order).rowsBetween(0, W.unboundedFollowing)
    carry = _right_row_struct(1, ["value"])
    carried = both.select("*", F.first(carry, ignorenulls=True).over(w).alias("__carry"))
    out = carried.filter(F.col("__side") == 0)
    within = (F.unix_micros(F.col("__carry.__rts")) - F.unix_micros(F.col("ts"))) <= _TOLERANCE_US
    return out.select(
        *left.columns,
        F.when(within, F.col("__carry.__rts")).alias("asof_ts"),
        F.when(within, F.col("__carry.__p_value")).alias("value"),
    )


def asof_join_nearest(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """For each left row: the right ``click_value`` of the CLOSEST right
    row in either direction (|right.ts − left.ts| minimized, within the
    same key, at most 2 hours either way), ties between an equally-distant
    earlier and later row resolved BACKWARD (the at-or-before row wins —
    pandas merge_asof's ``direction='nearest'`` convention). Duplicate
    (keys, ts) right rows are resolved by the right ``event_id`` (largest
    wins).

    One union-sort-carry pass: both directional carries ride the SAME
    exchange (one shuffle on the keys); the two window orderings differ
    only in the tiebreak direction (backward wants the winner sorted last,
    forward wants it first), costing at most a second in-partition sort,
    never a second shuffle. Equal-ts right rows are deliberately visible
    only to the backward carry — a distance-0 match always resolves
    backward anyway.

    Adds ``asof_ts`` and ``asof_direction`` ('backward'/'forward') beside
    the carried ``click_value``.
    """
    out = _bracket_carries(left, right, keys, ["click_value"])
    lus = F.unix_micros(F.col("ts"))
    db = lus - F.unix_micros(F.col("__cb.__rts"))
    df_ = F.unix_micros(F.col("__cf.__rts")) - lus
    b_ok = F.col("__cb").isNotNull() & (db <= F.lit(_TOLERANCE_US))
    f_ok = F.col("__cf").isNotNull() & (df_ <= F.lit(_TOLERANCE_US))
    # backward wins ties (db == df_); forward only when strictly closer or
    # backward is missing/out-of-tolerance
    use_b = b_ok & (~f_ok | (db <= df_))
    use_f = f_ok & ~use_b
    chosen = F.when(use_b, F.col("__cb")).when(use_f, F.col("__cf"))
    direction = F.when(use_b, F.lit("backward")).when(use_f, F.lit("forward"))
    return out.select(
        *left.columns,
        chosen["__rts"].alias("asof_ts"),
        direction.alias("asof_direction"),
        chosen["__p_click_value"].alias("click_value"),
    )


def asof_join_interp(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """For each left row: the right-side ``value_col`` LINEARLY
    INTERPOLATED at the left timestamp between the bracketing right rows
    (newest at-or-before, oldest strictly-after) — the time-series
    alignment kdb's ``aj`` + interpolation and pandas ``merge_asof`` +
    ``interpolate`` perform, and the join-flavored sibling of the
    certified per-series ``qc.interpolate``. Where only one bracket
    exists the carry degrades to that side's value (constant
    extrapolation), labeled by ``method`` ('interp'/'backward'/
    'forward'); no bracket at all yields NULL.

    Same single union-sort-carry pass as :func:`asof_join_nearest`: both
    directional carries ride ONE exchange on the keys. Equal-timestamp
    right rows are visible only to the backward carry, so the interp
    factor is exactly 0 there and the result equals the backward value —
    a distance-0 match never divides by zero (``ts_after`` is strictly
    later than ``ts_before`` whenever both exist). The interpolation
    arithmetic is integer-microsecond deltas cast to double, one
    multiply, one add — identical IEEE expression shapes in any engine
    that mirrors it, so results are oracle-exact bit-for-bit.
    Among duplicate (keys, ts) right rows the largest right ``event_id``
    wins, exactly like :func:`asof_join_nearest`.
    """
    out = _bracket_carries(left, right, keys, [value_col])
    tb_ = F.col("__cb.__rts")
    tf_ = F.col("__cf.__rts")
    vb = F.col(f"__cb.__p_{value_col}")
    vf = F.col(f"__cf.__p_{value_col}")
    lus = F.unix_micros(F.col("ts"))
    frac = (lus - F.unix_micros(tb_)).cast("double") / (
        F.unix_micros(tf_) - F.unix_micros(tb_)
    ).cast("double")
    interp = (
        F.when(tb_.isNotNull() & tf_.isNotNull(), vb + (vf - vb) * frac)
        .when(tb_.isNotNull(), vb)
        .otherwise(vf)
    )
    method = (
        F.when(tb_.isNotNull() & tf_.isNotNull(), F.lit("interp"))
        .when(tb_.isNotNull(), F.lit("backward"))
        .when(tf_.isNotNull(), F.lit("forward"))
    )
    return out.select(
        *left.columns,
        tb_.alias("ts_before"),
        tf_.alias("ts_after"),
        method.alias("method"),
        interp.alias(f"{value_col}_interp"),
    )


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    band_seconds: int,
) -> DataFrame:
    """Count right rows within ±band of each left row (same keys), via
    bucketized equi-join: candidates come from the 3 adjacent buckets, the
    exact band filter runs after the hash join.

    Per-row counting semantics: group on the left's unique ``event_id`` so
    each left row keeps its own count (matching a per-row left-join
    oracle). The id is DETERMINISTIC —
    ``monotonically_increasing_id`` would change across task
    retries/repartitions, which at cluster scale silently mis-groups a
    recomputed partition.
    """
    band_us = band_seconds * 1_000_000
    lb = (
        left.withColumn("__rid", F.col("event_id"))
        .withColumn("__lb", F.expr(f"unix_micros({left_ts}) div {band_us}"))
    )
    rb = right.select(*keys, F.unix_micros(F.col(right_ts)).alias("__rus")).withColumn(
        "__rb", F.expr(f"__rus div {band_us}")
    )
    shifted = None
    for d in (-1, 0, 1):
        cand = rb.withColumn("__bucket", F.col("__rb") + F.lit(d)).drop("__rb")
        shifted = cand if shifted is None else shifted.unionByName(cand)
    cond = None
    for k in keys:
        c = lb[k] == shifted[k]
        cond = c if cond is None else cond & c
    cond = cond & (lb["__lb"] == shifted["__bucket"])
    joined = lb.join(shifted, cond, "left")
    lus = F.unix_micros(lb[left_ts])
    in_band = F.when(F.abs(lus - shifted["__rus"]) <= band_us, 1).otherwise(0)
    group_cols = [lb["__rid"]] + [lb[c] for c in left.columns]
    return (
        joined.groupBy(*group_cols)
        .agg(F.sum(in_band).alias("n_in_band"))
        .drop("__rid")
        .fillna({"n_in_band": 0})
    )
