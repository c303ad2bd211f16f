"""QC engine — the interactive edit_service rebuilt as pure, distributed
window transforms (SURVEY.md §2.8: W1–W11 and the selection model P7–P10).

Reference: ``src/GAMUTRawData/odmservices/edit_service.py`` in
/root/reference — it copies ONE series into in-memory SQLite and runs Python
loops. Here every operator:

  * partitions by the series key columns and orders by the time column, so
    it runs over ALL series at once, distributed (the reference's
    one-series-at-a-time limit disappears);
  * never splits a series across partitions (we partition by keys, never by
    time — SURVEY.md §7.4 item 2), so window frames see the whole series;
  * is a pure ``DataFrame → DataFrame`` transform. The selection mask is a
    boolean ``selected`` column; "filter from previous selection"
    (edit_service.py:58-60) is plain AND composition. Rollback (W9) is free:
    transforms are immutable, keep the source frame.

Scale: window functions shuffle once on the series keys; within a partition
they are a single sort + streaming pass (Spark's WindowExec). Skewed series
(one sensor with billions of rows) are the main hazard: Spark cannot
split a window partition, so a hot series runs in one task, and the
unbounded frames used here (islands W3, interpolation W4 anchors,
cumulative sums) need the whole series anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

SEL = "selected"

_PERIOD_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}


def _w(keys: list[str], ts: str, tiebreak: str | None = None) -> W:
    # A deterministic tiebreak column (e.g. the value-id) makes results
    # stable under duplicate timestamps within a series; mirror it in the
    # oracle's ORDER BY.
    order = [ts] if tiebreak is None else [ts, tiebreak]
    return W.partitionBy(*keys).orderBy(*order)


def _set_selection(df: DataFrame, pred: Column, compose: bool) -> DataFrame:
    """P9 filter-composition mode: new filter ANDs with the previous mask
    when ``compose`` (edit_service.py:128-131,190-191)."""
    if compose and SEL in df.columns:
        pred = F.col(SEL) & pred
    return df.withColumn(SEL, pred)


# --- selection builders (P7, P8, P10) --------------------------------------

def select_value_threshold(df: DataFrame, op: str, threshold: float, value: str = "DataValue", compose: bool = False) -> DataFrame:
    """filter_value (P7; edit_service.py:66-85), op ∈ {'<', '>'}."""
    col = F.col(value)
    pred = col < F.lit(threshold) if op == "<" else col > F.lit(threshold)
    return _set_selection(df, pred, compose)


def select_date_window(df: DataFrame, before=None, after=None, ts: str = "LocalDateTime", compose: bool = False) -> DataFrame:
    """filter_date (P8; edit_service.py:87-109): before/after both optional,
    AND-composed when both given."""
    pred = F.lit(True)
    if before is not None:
        pred = pred & (F.col(ts) < F.lit(before))
    if after is not None:
        pred = pred & (F.col(ts) > F.lit(after))
    return _set_selection(df, pred, compose)


def select_points(df: DataFrame, id_list=None, datetime_list=None, id_col: str = "ValueID", ts: str = "LocalDateTime", compose: bool = False) -> DataFrame:
    """select_points (P10; edit_service.py:166-184): id list wins if both."""
    if id_list:
        pred = F.col(id_col).isin(list(id_list))
    elif datetime_list:
        pred = F.col(ts).isin(list(datetime_list))
    else:
        pred = F.lit(False)
    return _set_selection(df, pred, compose)


# --- window detectors (W1, W2) ----------------------------------------------

def select_data_gaps(df: DataFrame, keys: list[str], amount: int, period: str = "hour", ts: str = "LocalDateTime", compose: bool = False, tiebreak: str | None = None) -> DataFrame:
    """Data-gap detection (W1; edit_service.py:112-145): select BOTH
    endpoints of every interval ≥ amount×period."""
    w = _w(keys, ts, tiebreak)
    # Integer microsecond arithmetic: exact, and bit-identical to the DuckDB
    # oracle's epoch_us — no float rounding at the >= boundary.
    threshold_us = amount * _PERIOD_SECONDS[period] * 1_000_000
    t = F.unix_micros(F.col(ts))
    gap_next = F.unix_micros(F.lead(ts).over(w)) - t
    gap_prev = t - F.unix_micros(F.lag(ts).over(w))
    pred = (gap_next >= threshold_us) | (gap_prev >= threshold_us)
    return _set_selection(df, F.coalesce(pred, F.lit(False)), compose)


def select_value_change(df: DataFrame, keys: list[str], threshold: float, value: str = "DataValue", ts: str = "LocalDateTime", compose: bool = False, tiebreak: str | None = None) -> DataFrame:
    """Value-change threshold (W2; edit_service.py:147-164): select both rows
    of every consecutive pair with |Δvalue| ≥ threshold."""
    w = _w(keys, ts, tiebreak)
    d_next = F.abs(F.col(value) - F.lead(value).over(w))
    d_prev = F.abs(F.col(value) - F.lag(value).over(w))
    pred = (d_next >= threshold) | (d_prev >= threshold)
    return _set_selection(df, F.coalesce(pred, F.lit(False)), compose)


# --- islands (W3) ------------------------------------------------------------

def selection_groups(df: DataFrame, keys: list[str], ts: str = "LocalDateTime", out: str = "group_id", tiebreak: str | None = None) -> DataFrame:
    """Consecutive-run grouping (W3; edit_service.py:341-360): classic
    gaps-and-islands — running count of unselected rows is constant within a
    selected run, so it numbers the islands. ``out`` is NULL on unselected
    rows; island ids are per-series, dense in time order starting at 0."""
    w = _w(keys, ts, tiebreak)
    first_in_run = F.when(F.col(SEL) & ~F.coalesce(F.lag(SEL).over(w), F.lit(False)), 1).otherwise(0)
    run_idx = F.sum(first_in_run).over(w.rowsBetween(W.unboundedPreceding, 0)) - 1
    return df.withColumn(out, F.when(F.col(SEL), run_idx).otherwise(F.lit(None)).cast("long"))


# --- corrections (W4, W5, W6, W7) -------------------------------------------

def interpolate_selected(df: DataFrame, keys: list[str], ts: str = "LocalDateTime", value: str = "DataValue", tiebreak: str | None = None) -> DataFrame:
    """Linear interpolation over selected runs (W4;
    edit_service.py:279-309): each selected run is re-valued on the straight
    line between the nearest unselected anchors before and after the run.
    Runs touching a series end (no anchor on one side) are left unchanged —
    the reference skips them (edit_service.py:289-290).

    Formulated with ignore-null window scans instead of per-run loops: four
    window expressions and arithmetic, one shuffle, no UDF.
    """
    w = _w(keys, ts, tiebreak)
    before = w.rowsBetween(W.unboundedPreceding, -1)
    after = w.rowsBetween(1, W.unboundedFollowing)
    # Microsecond integers → double: exactly representable (< 2^53), so the
    # interpolation arithmetic is bit-identical to the SQL oracle's.
    anchor_v = F.when(~F.col(SEL), F.col(value))
    anchor_t = F.when(~F.col(SEL), F.unix_micros(F.col(ts)).cast("double"))
    prev_v = F.last(anchor_v, ignorenulls=True).over(before)
    prev_t = F.last(anchor_t, ignorenulls=True).over(before)
    next_v = F.first(anchor_v, ignorenulls=True).over(after)
    next_t = F.first(anchor_t, ignorenulls=True).over(after)
    t = F.unix_micros(F.col(ts)).cast("double")
    interp = prev_v + (t - prev_t) / (next_t - prev_t) * (next_v - prev_v)
    new_val = F.when(F.col(SEL) & prev_v.isNotNull() & next_v.isNotNull(), interp).otherwise(F.col(value))
    return df.withColumn(value, new_val)


def drift_correct(df: DataFrame, keys: list[str], gap_width: float, ts: str = "LocalDateTime", value: str = "DataValue", tiebreak: str | None = None) -> DataFrame:
    """Drift correction (W5; edit_service.py:311-339): within the selected
    run, y_i += gap_width * (x_i / x_l) where x_i is seconds since the run
    start and x_l the run's total seconds.

    The reference refuses to run unless the selection is a single contiguous
    run (edit_service.py:316-317); we generalize: the correction is applied
    per island independently, which degenerates to the reference's behavior
    for a single island. Single-point islands (x_l = 0) are left unchanged.
    """
    with_islands = selection_groups(df, keys, ts=ts, out="__island", tiebreak=tiebreak)
    iw = W.partitionBy(*keys, "__island")
    t = F.unix_micros(F.col(ts)).cast("double")
    x0 = F.min(t).over(iw)
    xl = F.max(t).over(iw) - x0
    corrected = F.col(value) + F.lit(gap_width) * (t - x0) / xl
    new_val = F.when(F.col(SEL) & F.col("__island").isNotNull() & (xl > 0), corrected).otherwise(F.col(value))
    return with_islands.withColumn(value, new_val).drop("__island")


def change_value(df: DataFrame, op: str, operand: float, value: str = "DataValue") -> DataFrame:
    """Arithmetic update over the selection (W6; edit_service.py:233-256),
    op ∈ {'+', '-', '*', '='}."""
    col = F.col(value)
    expr = {
        "+": col + F.lit(operand),
        "-": col - F.lit(operand),
        "*": col * F.lit(operand),
        "=": F.lit(operand).cast("double"),
    }[op]
    return df.withColumn(value, F.when(F.col(SEL), expr).otherwise(col))


def flag_selected(df: DataFrame, qualifier_id: int, qual_col: str = "QualifierID") -> DataFrame:
    """Flag assignment (W7; edit_service.py:362-365)."""
    return df.withColumn(
        qual_col, F.when(F.col(SEL), F.lit(qualifier_id)).otherwise(F.col(qual_col) if qual_col in df.columns else F.lit(None))
    )


# --- re-version / save (W8) --------------------------------------------------

def reversion_series(df: DataFrame, new_keys: dict[str, object]) -> DataFrame:
    """Series re-version (W8; edit_service.py:375-443): reassigning
    variable/method/QC-level keys turns the edited rows into a NEW series.
    The catalog row is recomputed downstream via catalog.derive_catalog (G4);
    persistence semantics live in operators.mutation."""
    out = df
    for k, v in new_keys.items():
        out = out.withColumn(k, F.lit(v))
    return out


def resample_grid(df: DataFrame, keys: list[str], interval_seconds: int) -> DataFrame:
    """Resample each series' ``value`` at ``ts`` onto a regular time grid
    (one slot every ``interval_seconds`` from the series' first to last
    observation), aggregating observations that share a slot (mean) and
    filling empty slots with the last observed slot value (forward fill). The time-regularization step every downstream
    window/rollup assumes, which the reference got implicitly from
    sensors sharing a clock.

    Scale shape: the grid is generated per series with ``sequence()``
    (|slots| rows, no driver loop); slot aggregation and the grid join
    shuffle on (keys, slot); the forward fill is one last-ignorenulls
    window per series — everything partitions by the series key, so a
    1000-executor cluster fills every series in parallel.
    """
    # integer division (not double-divide-then-cast): exact at any epoch
    # offset and identical to the oracle's `//`
    slot = F.expr(f"unix_micros(`ts`) div {interval_seconds * 1_000_000}")
    obs = (
        df.select(*keys, slot.alias("__slot"), F.col("value").alias("__v"))
        .groupBy(*keys, "__slot")
        .agg(F.avg("__v").alias("__slot_v"))
    )
    spans = obs.groupBy(*keys).agg(
        F.min("__slot").alias("__lo"), F.max("__slot").alias("__hi")
    )
    grid = spans.select(
        *keys, F.explode(F.expr("sequence(__lo, __hi)")).alias("__slot")
    )
    joined = grid.join(obs, [*keys, "__slot"], "left")
    w = W.partitionBy(*keys).orderBy("__slot").rowsBetween(W.unboundedPreceding, 0)
    filled = F.last("__slot_v", ignorenulls=True).over(w)
    return joined.select(
        *keys,
        F.timestamp_micros(F.col("__slot") * F.lit(interval_seconds * 1_000_000)).alias("ts"),
        filled.alias("value"),
        F.col("__slot_v").isNotNull().alias("observed"),
    )


def median_despike(df: DataFrame, keys: list[str], threshold: float) -> DataFrame:
    """Rolling-median despike filter: flag observations whose ``value``
    deviates more than ``threshold`` from the median of their ±2-row
    neighborhood (ordered by ``ts``, then ``event_id``) — the classic
    robust spike detector (the median, unlike the mean, is immune
    to the spike it is judging).

    The windowed median is sort_array(collect_list(...))[lower-median]
    over a bounded frame — exact, O(w log w) per row with tiny constant w,
    and expressible identically in the SQL oracle (no engine median()
    semantics involved). Partitioned by the series key like every QC
    window.
    """
    w = W.partitionBy(*keys).orderBy(F.col("ts"), F.col("event_id")).rowsBetween(-2, 2)
    arr = F.sort_array(F.collect_list(F.col("value")).over(w))
    med = F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int"))
    out = df.withColumn("median_val", med)
    return out.withColumn("is_spike", F.abs(F.col("value") - F.col("median_val")) > F.lit(threshold))
