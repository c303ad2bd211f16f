"""ODM time-series family: series catalog, filtered extraction, the wide
pivot export, the QC engine (SURVEY.md §2.8: W1–W11) and the per-series
time-series operators around it — as-of and range joins, rolling frames,
percentiles, trend fits, OHLC rollups and the recorded QC plans and edit
sessions.

Each query treats (user_id, event_type) — or the DataValues quintuple for
the ODM-shaped queries — as the series key; the operators are generic over
key/ts/value columns and run all series at once (the reference edited one
series at a time: ``edit_service.py``).

Oracle-parity conventions: integer-microsecond time arithmetic
(``unix_micros`` / ``epoch_us``), identical IEEE expression shapes on both
sides, floor-formula rounding (``functions.fround`` / ``workload.sql_round``).
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W, functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators import asof, qc
from h2outility_spark.operators.catalog import derive_catalog, series_year_range
from h2outility_spark.operators.extract import build_predicate
from h2outility_spark.operators.reshape import fill_no_data, pivot_column_names, pivot_wide
from h2outility_spark.plans import oplist
from h2outility_spark.schema import events_as_datavalues
from h2outility_spark.workload import DV_CTE, _dv, _t, query, scratch_dir, sql_round


# ---------------------------------------------------------------------------
# Catalog / dims (G-family, J-family)
# ---------------------------------------------------------------------------

@query(
    "series_catalog",
    oracle=DV_CTE
    + """
    SELECT SiteID, VariableCode, MethodID, SourceID, QualityControlLevelID,
           min(LocalDateTime) AS BeginDateTime,
           max(LocalDateTime) AS EndDateTime,
           CAST(count(*) AS BIGINT) AS ValueCount,
           min(DateTimeUTC) AS BeginDateTimeUTC,
           max(DateTimeUTC) AS EndDateTimeUTC
    FROM dv
    GROUP BY 1, 2, 3, 4, 5
    """,
    description="G4/J4: derive seriescatalog (one row per series quintuple) from the fact table",
    bench=True,
)
def q_series_catalog(spark, sf_dir):
    keys = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]
    return derive_catalog(_dv(spark, sf_dir), keys=keys)


@query(
    "distinct_series",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    description="G2: distinct key sets",
)
def q_distinct_series(spark, sf_dir):
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# Extraction (P-family, O6)
# ---------------------------------------------------------------------------

@query(
    "extract_filtered",
    oracle=DV_CTE
    + """
    SELECT DateTimeUTC, LocalDateTime, UTCOffset, DataValue, VariableCode,
           MethodID, CensorCode, QualifierID
    FROM dv
    WHERE QualityControlLevelID = 0
      AND SourceID = 1
      AND VariableCode IN ('click', 'view')
      AND MethodID IN (1, 2)
      AND LocalDateTime BETWEEN TIMESTAMP '2024-01-01 06:00:00'
                            AND TIMESTAMP '2024-01-03 18:00:00'
    """,
    description="P2-P6/O6: conjunctive predicate + IN lists + BETWEEN, wide column shape",
)
def q_extract_filtered(spark, sf_dir):
    dv = _dv(spark, sf_dir)
    pred = build_predicate(
        qc_id=0,
        source_id=1,
        variable_codes=["click", "view"],
        method_ids=[1, 2],
        start="2024-01-01 06:00:00",
        end="2024-01-03 18:00:00",
    )
    return dv.filter(pred).select(
        "DateTimeUTC", "LocalDateTime", "UTCOffset", "DataValue", "VariableCode", "MethodID", "CensorCode", "QualifierID"
    )


@query(
    "extract_incremental",
    oracle=DV_CTE
    + """
    SELECT ValueID, LocalDateTime, DataValue
    FROM dv
    WHERE LocalDateTime > (SELECT max(LocalDateTime) FROM dv WHERE ValueID < 500)
    """,
    description="P5/I2/S10: open-ended watermark extraction (> last exported timestamp)",
)
def q_extract_incremental(spark, sf_dir):
    dv = _dv(spark, sf_dir)
    watermark = dv.filter(F.col("ValueID") < 500).agg(F.max("LocalDateTime").alias("wm"))
    return (
        dv.join(F.broadcast(watermark))
        .filter(F.col("LocalDateTime") > F.col("wm"))
        .select("ValueID", "LocalDateTime", "DataValue")
    )


# ---------------------------------------------------------------------------
# Pivot / wide export (A-family) — the reference's flagship path
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PIVOT_PAIRS = [(code, m) for code in EVENT_TYPES for m in (1, 2)]


def _wide_export_oracle() -> str:
    names = pivot_column_names(PIVOT_PAIRS)
    cols = ",\n           ".join(
        f"coalesce(floor((avg(CASE WHEN VariableCode = '{code}' AND MethodID = {m} "
        f"THEN DataValue END)) * 100.0 + 0.5) / 100.0, CAST(-9999.0 AS DOUBLE)) AS \"{names[(code, m)]}\""
        for code, m in PIVOT_PAIRS
    )
    return (
        DV_CTE
        + f"""
    SELECT SiteID, CAST(LocalDateTime AS DATE) AS obs_date,
           {cols}
    FROM dv
    GROUP BY 1, 2
    """
    )


@query(
    "wide_export",
    oracle=_wide_export_oracle(),
    description=(
        "A1-A4: long->wide pivot on (VariableCode, MethodID) with explicit pivot values "
        "from the catalog, duplicate-column disambiguation, per-column sentinel fill"
    ),
    bench=True,
)
def q_wide_export(spark, sf_dir):
    dv = _dv(spark, sf_dir).withColumn("obs_date", F.to_date("LocalDateTime"))
    names = pivot_column_names(PIVOT_PAIRS)
    wide = pivot_wide(dv, ["SiteID", "obs_date"], PIVOT_PAIRS, agg="avg")
    value_cols = [names[p] for p in PIVOT_PAIRS]
    rounded = wide.select(
        "SiteID", "obs_date", *[fround(F.col(f"`{c}`"), 2).alias(c) for c in value_cols]
    )
    return fill_no_data(rounded, {c: -9999.0 for c in value_cols})


# ---------------------------------------------------------------------------
# Latest observation per series (O4/O5 top-k)
# ---------------------------------------------------------------------------

@query(
    "last_per_series",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM (SELECT event_id, user_id, event_type, ts,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    description="O4/O5: latest observation per series (tail-1 via window top-k)",
)
def q_last_per_series(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


KEYS = ["user_id", "event_type"]


# event_id is the deterministic tiebreak for duplicate timestamps within a
# series — mirrored in every Spark window via tiebreak="event_id".
SQL_WINDOW = "PARTITION BY user_id, event_type ORDER BY ts, event_id"


def _ev(spark, sf_dir):
    return _t(spark, sf_dir, "events")


@query(
    "qc_gaps",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER ({SQL_WINDOW}) AS gp,
             lead(epoch_us(ts)) OVER ({SQL_WINDOW}) - epoch_us(ts) AS gn
      FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM t
    WHERE coalesce(gn >= 259200000000, FALSE) OR coalesce(gp >= 259200000000, FALSE)
    """,
    description="W1: data-gap detection — both endpoints of every >=3-day gap per series",
)
def q_qc_gaps(spark, sf_dir):
    ev = qc.select_data_gaps(_ev(spark, sf_dir), KEYS, amount=3, period="day", ts="ts", tiebreak="event_id")
    return ev.filter(F.col(qc.SEL)).select("event_id", "user_id", "event_type", "ts")


@query(
    "qc_value_change",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, ts, value,
             abs(value - lag(value) OVER ({SQL_WINDOW})) AS dp,
             abs(value - lead(value) OVER ({SQL_WINDOW})) AS dn
      FROM events
    )
    SELECT event_id, user_id, event_type, ts, value
    FROM t
    WHERE coalesce(dn >= 100.0, FALSE) OR coalesce(dp >= 100.0, FALSE)
    """,
    description="W2: value-change threshold — both rows of every |delta| >= 100 step",
)
def q_qc_value_change(spark, sf_dir):
    ev = qc.select_value_change(_ev(spark, sf_dir), KEYS, threshold=100.0, value="value", ts="ts", tiebreak="event_id")
    return ev.filter(F.col(qc.SEL)).select("event_id", "user_id", "event_type", "ts", "value")


# Islands: selection mask = value in [20, 60]; group consecutive selected
# rows, summarize each island. The cumulative-sum-of-run-starts formulation
# is identical on both sides.
_ISLANDS_CTE = f"""
    WITH s AS (
      SELECT event_id, user_id, event_type, ts, value,
             value BETWEEN 20.0 AND 60.0 AS sel
      FROM events
    ),
    p AS (
      SELECT *,
             CASE WHEN sel AND NOT coalesce(lag(sel) OVER ({SQL_WINDOW}), FALSE)
                  THEN 1 ELSE 0 END AS run_start
      FROM s
    ),
    r AS (
      SELECT *,
             sum(run_start)
               OVER ({SQL_WINDOW} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS run_idx
      FROM p
    )
"""


@query(
    "qc_islands",
    oracle=_ISLANDS_CTE
    + """
    SELECT user_id, event_type, CAST(run_idx AS BIGINT) AS group_id,
           CAST(count(*) AS BIGINT) AS n_points,
           min(ts) AS island_start, max(ts) AS island_end
    FROM r WHERE sel
    GROUP BY 1, 2, 3
    """,
    description="W3: gaps-and-islands — consecutive-run grouping of the selection mask",
)
def q_qc_islands(spark, sf_dir):
    ev = _ev(spark, sf_dir).withColumn(qc.SEL, F.col("value").between(20.0, 60.0))
    grouped = qc.selection_groups(ev, KEYS, ts="ts", out="group_id", tiebreak="event_id")
    return (
        grouped.filter(F.col(qc.SEL))
        .groupBy("user_id", "event_type", "group_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("ts").alias("island_start"),
            F.max("ts").alias("island_end"),
        )
    )


@query(
    "qc_interpolate",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, event_type, ts, value,
             value BETWEEN 20.0 AND 60.0 AS sel,
             CAST(epoch_us(ts) AS DOUBLE) AS td
      FROM events
    ),
    t AS (
      SELECT *,
        last_value(CASE WHEN NOT sel THEN value END IGNORE NULLS)
          OVER ({SQL_WINDOW} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN NOT sel THEN td END IGNORE NULLS)
          OVER ({SQL_WINDOW} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        first_value(CASE WHEN NOT sel THEN value END IGNORE NULLS)
          OVER ({SQL_WINDOW} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN NOT sel THEN td END IGNORE NULLS)
          OVER ({SQL_WINDOW} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM s
    )
    SELECT event_id, user_id, event_type, ts,
           floor((CASE WHEN sel AND pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv + (td - pt) / (nt - pt) * (nv - pv)
                       ELSE value END) * 10000.0 + 0.5) / 10000.0 AS value_interp
    FROM t
    """,
    description=(
        "W4: linear interpolation of selected runs between nearest unselected anchors; "
        "runs touching a series end are left unchanged"
    ),
    bench=True,
)
def q_qc_interpolate(spark, sf_dir):
    ev = _ev(spark, sf_dir).withColumn(qc.SEL, F.col("value").between(20.0, 60.0))
    out = qc.interpolate_selected(ev, KEYS, ts="ts", value="value", tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "event_type", "ts", fround(F.col("value"), 4).alias("value_interp")
    )


@query(
    "qc_drift",
    oracle=_ISLANDS_CTE.replace("value BETWEEN 20.0 AND 60.0", "value > 50.0")
    + """
    , d AS (
      SELECT *,
             CAST(epoch_us(ts) AS DOUBLE) AS td,
             CASE WHEN sel THEN run_idx END AS island
      FROM r
    ),
    e AS (
      SELECT *,
             min(td) OVER (PARTITION BY user_id, event_type, island) AS x0,
             max(td) OVER (PARTITION BY user_id, event_type, island) -
               min(td) OVER (PARTITION BY user_id, event_type, island) AS xl
      FROM d
    )
    SELECT event_id, user_id, event_type, ts,
           floor((CASE WHEN sel AND island IS NOT NULL AND xl > 0
                       THEN value + 25.0 * (td - x0) / xl
                       ELSE value END) * 10000.0 + 0.5) / 10000.0 AS value_drifted
    FROM e
    """,
    description="W5: drift correction y_i += G * (x_i/x_l) per selected island (G=25)",
)
def q_qc_drift(spark, sf_dir):
    ev = _ev(spark, sf_dir).withColumn(qc.SEL, F.col("value") > 50.0)
    out = qc.drift_correct(ev, KEYS, gap_width=25.0, ts="ts", value="value", tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "event_type", "ts", fround(F.col("value"), 4).alias("value_drifted")
    )


@query(
    "qc_change_value",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 20.0 THEN value + 100.0 ELSE value END AS value_new
    FROM events
    """,
    description="W6: arithmetic update (+100) over the selection (value < 20)",
)
def q_qc_change_value(spark, sf_dir):
    ev = qc.select_value_threshold(_ev(spark, sf_dir), "<", 20.0, value="value")
    return qc.change_value(ev, "+", 100.0, value="value").select("event_id", F.col("value").alias("value_new"))


@query(
    "qc_flag",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 10.0 THEN 9 END AS QualifierID
    FROM events
    """,
    description="W7: qualifier flag assignment over the selection (value < 10)",
)
def q_qc_flag(spark, sf_dir):
    ev = qc.select_value_threshold(_ev(spark, sf_dir), "<", 10.0, value="value")
    flagged = qc.flag_selected(ev, qualifier_id=9, qual_col="QualifierID")
    return flagged.select("event_id", F.col("QualifierID").cast("int").alias("QualifierID"))


@query(
    "season_rollup",
    oracle="""
    SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mth,
           CAST(quarter(ts) AS INT) AS season,
           CAST(count(*) AS BIGINT) AS n,
           floor((avg(value)) * 100.0 + 0.5) / 100.0 AS avg_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    description="W11/F1/F10: season derivation (quarter boundaries) + month/year rollup",
)
def q_season_rollup(spark, sf_dir):
    from h2outility_spark.functions import season

    ev = _ev(spark, sf_dir)
    return ev.groupBy(
        F.year("ts").alias("yr"), F.month("ts").alias("mth"), season(F.col("ts")).alias("season")
    ).agg(F.count(F.lit(1)).alias("n"), fround(F.avg("value"), 2).alias("avg_value"))


@query(
    "sessionization",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS tu,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ptu
      FROM events
    ),
    s AS (
      SELECT *,
             sum(CASE WHEN ptu IS NULL OR tu - ptu > 21600000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(((max(tu) - min(tu)) / 1000000.0) * 100.0 + 0.5) / 100.0 AS duration_sec
    FROM s
    GROUP BY 1, 2
    """,
    description="Extension (I-family analog): sessionization via lag-gap cumsum (6h inactivity gap)",
    bench=True,
)
def q_sessionization(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tu = F.unix_micros(F.col("ts"))
    ptu = F.lag(tu).over(w)
    new_sess = F.when(ptu.isNull() | ((tu - ptu) > 21_600_000_000), 1).otherwise(0)
    sess = ev.withColumn("session_id", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0)))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        fround((F.max(tu) - F.min(tu)) / F.lit(1_000_000.0), 2).alias("duration_sec"),
    )


@query(
    "event_time_windows",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    description="I-family extension: tumbling 1-hour event-time window aggregation (batch form)",
)
def q_event_time_windows(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), fround(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )


@query(
    "qc_resample_ffill",
    oracle="""
    WITH obs AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS slot, avg(value) AS slot_v
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS slot FROM spans),
    j AS (SELECT g.user_id, g.slot, o.slot_v
          FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot),
    f AS (SELECT user_id, slot,
                 last_value(slot_v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY slot
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
                 slot_v IS NOT NULL AS observed
          FROM j)
    SELECT user_id, make_timestamp(slot * 3600000000) AS ts,
           floor((v) * 10000.0 + 0.5) / 10000.0 AS value, observed
    FROM f
    """,
    description=(
        "Time-regularization: resample each user's click series onto an hourly grid "
        "(per-slot mean, forward-filled empty slots, observed flag) — sequence()-"
        "generated grid per series, no driver loop; the step every downstream "
        "window/rollup assumes"
    ),
)
def q_qc_resample_ffill(spark, sf_dir):
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "click")
    out = qc.resample_grid(ev, keys=["user_id"], interval_seconds=3600)
    return out.select("user_id", "ts", fround(F.col("value"), 4).alias("value"), "observed")


@query(
    "qc_median_despike",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, ts, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS win
      FROM events WHERE event_type = 'click'
    )
    SELECT event_id, user_id, ts, value,
           win[(len(win) + 1) // 2] AS median_val,
           abs(value - win[(len(win) + 1) // 2]) > 40.0 AS is_spike
    FROM w
    """,
    description=(
        "Rolling-median despike (W2's robust sibling): flag values deviating > 40 from "
        "the 5-point window median — sort_array(collect_list) lower-median, exact and "
        "identical in both engines (no engine median() semantics involved)"
    ),
)
def q_qc_median_despike(spark, sf_dir):
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = qc.median_despike(ev, keys=["user_id"], threshold=40.0)
    return out.select("event_id", "user_id", "ts", "value", "median_val", "is_spike")


@query(
    "qc_rolling_zscore",
    oracle="""
    SELECT event_id, user_id, ts, value,
           floor((mu) * 10000.0 + 0.5) / 10000.0 AS mu,
           CASE WHEN sd > 0 THEN abs(value - mu) / sd > 3.0 ELSE FALSE END AS is_anomaly
    FROM (
      SELECT event_id, user_id, ts, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd
      FROM events WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    """,
    description=(
        "Rolling z-score anomaly flag: |value - trailing(10) mean| > 3 sigma of the "
        "same trailing window (strictly-preceding frame, so the point can't mask "
        "itself); the parametric sibling of the median despike"
    ),
)
def q_qc_rolling_zscore(spark, sf_dir):
    ev = _ev(spark, sf_dir).filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-10, -1)
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    out = ev.withColumn("mu", mu).withColumn("sd", sd)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        fround(F.col("mu"), 4).alias("mu"),
        F.when(F.col("sd") > 0, F.abs(F.col("value") - F.col("mu")) / F.col("sd") > 3.0)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# J2: left join to a small dimension (inline qualifier dim)
# ---------------------------------------------------------------------------

QUALIFIER_DIM = [(1, "estimated"), (2, "suspect"), (3, "provisional")]


@query(
    "left_join_qualifiers",
    oracle=DV_CTE
    + """
    SELECT coalesce(q.code, 'unqualified') AS qualifier,
           CAST(count(*) AS BIGINT) AS n
    FROM dv LEFT JOIN (VALUES (1, 'estimated'), (2, 'suspect'), (3, 'provisional'))
                 AS q(QualifierID, code)
        ON dv.QualifierID = q.QualifierID
    GROUP BY 1
    """,
    description="J2: broadcast left join of the fact table to the qualifier dim, NULL-safe rollup",
)
def q_left_join_qualifiers(spark, sf_dir):
    dv = events_as_datavalues(_t(spark, sf_dir, "events"))
    dim = spark.createDataFrame(QUALIFIER_DIM, "QualifierID int, code string")
    return (
        dv.join(F.broadcast(dim), "QualifierID", "left")
        .groupBy(F.coalesce(F.col("code"), F.lit("unqualified")).alias("qualifier"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# As-of / range joins
# ---------------------------------------------------------------------------

@query(
    "asof_join",
    oracle="""
    WITH purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS asof_ts, c.value AS asof_value
    FROM purch p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    description=(
        "As-of (backward) join: each purchase aligned to the user's latest click at-or-before "
        "it — union-sort-carry formulation, one shuffle, no per-group pandas"
    ),
    bench=True,
)
def q_asof_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof.asof_join_backward(purch, clicks, keys=["user_id"])
    return out.select("event_id", "user_id", "ts", "asof_ts", F.col("value").alias("asof_value"))


@query(
    "range_join_count",
    oracle="""
    WITH purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           CAST(count(c.ts) AS BIGINT) AS n_in_band
    FROM purch p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 86400000000
    GROUP BY 1, 2, 3
    """,
    description=(
        "Range join: clicks within ±1 day of each purchase (same user), bucketized to a hash "
        "join with 3-bucket fan-out instead of an inequality nested loop"
    ),
)
def q_range_join_count(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof.range_join_count(
        purch, clicks, keys=["user_id"], left_ts="ts", right_ts="ts", band_seconds=86400
    )


# ---------------------------------------------------------------------------
# Catalog aggregates (G3, G5)
# ---------------------------------------------------------------------------

@query(
    "series_year_range",
    oracle=DV_CTE
    + """
    SELECT CAST(year(min(BeginDateTime)) AS INT) AS start_year,
           CAST(year(max(EndDateTime)) AS INT) AS end_year,
           CAST(year(max(EndDateTime)) - year(min(BeginDateTime)) + 1 AS INT) AS n_years
    FROM (SELECT min(LocalDateTime) AS BeginDateTime, max(LocalDateTime) AS EndDateTime
          FROM dv GROUP BY SiteID, VariableCode, MethodID, SourceID, QualityControlLevelID)
    """,
    description="G3: GetSeriesYearRange — year window over the selected series for chunk-by-year export",
)
def q_series_year_range(spark, sf_dir):
    dv = events_as_datavalues(_t(spark, sf_dir, "events"))
    keys = ["SiteID", "VariableCode", "MethodID", "SourceID", "QualityControlLevelID"]
    catalog = derive_catalog(dv, keys=keys)
    return series_year_range(catalog).select(
        "start_year", "end_year", F.size("years").alias("n_years")
    )


@query(
    "variable_census",
    oracle="""
    SELECT user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_variables,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS variables
    FROM events
    GROUP BY 1
    """,
    description="G5: per-site key-set census (distinct variables + deterministic list) for chunk validation",
)
def q_variable_census(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("n_variables"),
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("variables"),
    )


# ---------------------------------------------------------------------------
# Window running aggregates (O-family cumulative frames)
# ---------------------------------------------------------------------------

@query(
    "running_totals",
    oracle="""
    SELECT event_id, user_id, ts,
           floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 * 100.0 + 0.5) / 100.0 AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
    FROM events
    WHERE user_id < 50
    """,
    description="Cumulative per-series frames: running sum + row index over event time",
)
def q_running_totals(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        fround(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


@query(
    "rolling_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           floor((avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
                 * 10000.0 + 0.5) / 10000.0 AS avg_4
    FROM events
    WHERE user_id < 50
    """,
    description="Bounded window frames: trailing 4-point moving average per series",
)
def q_rolling_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select("event_id", "user_id", "ts", fround(F.avg("value").over(w), 4).alias("avg_4"))


# -- forward as-of join --------------------------------------------------------

ASOF_FORWARD_ORACLE = """
WITH purch AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
     j AS (
       SELECT p.event_id, c.ts AS cts, c.value,
              row_number() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ts, c.value DESC) AS rk
       FROM purch p JOIN clicks c
         ON c.user_id = p.user_id AND c.ts >= p.ts
        AND epoch_us(c.ts) - epoch_us(p.ts) <= 7200000000
     )
SELECT p.event_id, p.user_id, p.ts,
       s.cts AS asof_ts, CAST(s.value AS DOUBLE) AS asof_value
FROM purch p LEFT JOIN (SELECT * FROM j WHERE rk = 1) s USING (event_id)
"""


@query(
    "asof_join_forward",
    oracle=ASOF_FORWARD_ORACLE,
    description="Forward as-of join (oldest right row at-or-after, tolerance + tiebreak), union-sort-carry in one shuffle",
)
def q_asof_join_forward(spark, sf_dir):
    """Forward as-of: each purchase aligned to the user's EARLIEST click
    at-or-after it, within a 2-hour tolerance — the mirror of the
    certified backward ``asof_join`` (same one-shuffle union-sort-carry,
    operators/asof.py::asof_join_forward), with ``value`` as the
    duplicate-timestamp tiebreak so both engines pick the same click.
    """
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof.asof_join_forward(purch, clicks, keys=["user_id"])
    return out.select("event_id", "user_id", "ts", "asof_ts", F.col("value").alias("asof_value"))


# -- nearest-direction as-of join ---------------------------------------------

ASOF_NEAREST_ORACLE = """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click')
SELECT l.user_id, l.event_id, l.ts,
       m.ts AS asof_ts, m.dir AS asof_direction,
       m.click_value
FROM l LEFT JOIN LATERAL (
  SELECT r.ts,
         CASE WHEN r.ts <= l.ts THEN 'backward' ELSE 'forward' END AS dir,
         floor(r.value * 100.0 + 0.5) / 100.0 AS click_value
  FROM r
  WHERE r.user_id = l.user_id
    AND abs(epoch_us(r.ts) - epoch_us(l.ts)) <= CAST(7200 AS BIGINT) * 1000000
  ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)),
           CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END,
           r.event_id DESC
  LIMIT 1
) m ON TRUE
"""


@query(
    "asof_join_nearest",
    oracle=ASOF_NEAREST_ORACLE,
    description="nearest-direction as-of join (min |dt| either way, backward tie-break, tolerance + tiebreak), one shuffle",
    bench=True,  # round 10: joined the headline set + both scaling blocks
)
def q_asof_join_nearest(spark, sf_dir):
    """Nearest click around each purchase (±2 h): the NEW
    ``asof_join_nearest`` operator — closest right row in EITHER
    direction, equidistant ties resolved backward, duplicate-timestamp
    right rows resolved by largest event_id. The oracle is a per-row
    LATERAL nearest lookup with the identical ordering contract. One
    shuffle on user_id (both directional carries ride the same exchange).
    """
    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", fround(F.col("value"), 2).alias("click_value"), "event_id"
    )
    return asof.asof_join_nearest(purch, clicks, ["user_id"])


# -- exact grouped percentiles -------------------------------------------------

GROUPED_PERCENTILES_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor((quantile_cont(value, 0.25)) * 10000.0 + 0.5) / 10000.0 AS p25,
       floor((quantile_cont(value, 0.50)) * 10000.0 + 0.5) / 10000.0 AS p50,
       floor((quantile_cont(value, 0.90)) * 10000.0 + 0.5) / 10000.0 AS p90
FROM events
GROUP BY event_type
"""


@query(
    "grouped_percentiles",
    oracle=GROUPED_PERCENTILES_ORACLE,
    description="exact per-group linear-interpolation percentiles (Spark percentile = DuckDB quantile_cont)",
)
def q_grouped_percentiles(spark, sf_dir):
    """Exact per-group percentiles by linear interpolation (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``: both index p·(n−1) into the
    sorted values). Exact percentile is a sort-based aggregate — fine at
    per-group scale; at 100 TB the streaming-sketch twin is
    ``approx_percentile`` (accuracy-tested in pytest, not hashable
    cross-engine because sketch merge order is partition-dependent)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        fround(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        fround(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        fround(F.expr("percentile(value, 0.90)"), 4).alias("p90"),
    )


# -- rolling correlation (W-family depth) --------------------------------------

ROLLING_CORR_ORACLE = """
SELECT user_id, event_id,
       floor((corr(value, epoch_us(ts) / 1000000.0)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING))
             * 10000.0 + 0.5) / 10000.0 AS trend_corr
FROM events
"""


@query(
    "rolling_corr",
    oracle=ROLLING_CORR_ORACLE,
    description="rolling value-vs-time Pearson correlation per series (+-5-row frame), NaN->NULL folded for parity",
)
def q_rolling_corr(spark, sf_dir):
    """Rolling value-vs-time Pearson correlation per series (±5-row frame):
    the local-trend detector (corr ~ +1 = steady rise, ~ −1 = steady fall).
    Degenerate frames (zero variance) are normalized to NULL — Spark's
    corr yields NaN where DuckDB yields NULL, so the NaN is folded before
    rounding. One shuffle on the series key, same as every QC window."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-5, 5)
    c = F.corr(F.col("value"), F.unix_micros("ts") / F.lit(1_000_000.0)).over(w)
    c = F.when(F.isnan(c), F.lit(None)).otherwise(c)
    return ev.select("user_id", "event_id", fround(c, 4).alias("trend_corr"))


# -- per-group winsorization -------------------------------------------------------

WINSORIZE_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       floor((CASE WHEN e.value < b.lo THEN b.lo
                   WHEN e.value > b.hi THEN b.hi
                   ELSE e.value END) * 10000.0 + 0.5) / 10000.0 AS winsorized,
       CAST(e.value < b.lo OR e.value > b.hi AS BOOLEAN) AS clipped
FROM events e JOIN b USING (event_type)
"""


@query(
    "winsorize_values",
    oracle=WINSORIZE_ORACLE,
    description="per-group [p05,p95] winsorization, bounds broadcast onto the fact stream (fact table never shuffles)",
)
def q_winsorize_values(spark, sf_dir):
    """Per-group winsorization: clip every value into its group's
    [p05, p95] band — the robust-stats pre-step QC pipelines run before
    fitting anything. Shape: one exact-percentile aggregate over the
    (tiny) group set, BROADCAST back onto the fact stream, clip in a
    narrow map — the fact table never shuffles, which is the only
    acceptable plan at 100 TB (the percentile agg shuffles the values
    once; swap in approx_percentile to make that map-side too)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    return ev.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        fround(clipped, 4).alias("winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias("clipped"),
    )


# -- hourly OHLC rollup ----------------------------------------------------------

SERIES_OHLC_ORACLE = """
SELECT user_id, event_type, date_trunc('hour', ts) AS hour_start,
       floor((first(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS open,
       floor((max(value)) * 100.0 + 0.5) / 100.0 AS high,
       floor((min(value)) * 100.0 + 0.5) / 100.0 AS low,
       floor((last(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS close,
       CAST(count(*) AS BIGINT) AS n_obs
FROM events
GROUP BY 1, 2, 3
"""


@query(
    "series_ohlc",
    oracle=SERIES_OHLC_ORACLE,
    description="hourly OHLC per series via min_by/max_by ordered aggregates, one map-side-partial hash aggregate",
    bench=True,
)
def q_series_ohlc(spark, sf_dir):
    """Hourly OHLC per series (open = first value in the hour, close =
    last, ties on timestamp broken by event_id): the canonical downsample
    for sensor/market series. Spark's min_by/max_by over a (ts, event_id)
    struct ≡ DuckDB's ordered first/last aggregates. ONE hash aggregate
    with map-side partials — no window, no sort of the full stream; at
    100 TB this is the cheapest possible shape for a per-hour summary."""
    ev = _t(spark, sf_dir, "events")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(
        fround(F.min_by(F.col("value"), order_key), 2).alias("open"),
        fround(F.max("value"), 2).alias("high"),
        fround(F.min("value"), 2).alias("low"),
        fround(F.max_by(F.col("value"), order_key), 2).alias("close"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# -- §2.12 op-list record/replay under a driver hash ---------------------------

#: The recorded plan: select values > 60, AND-compose with |Δ|>=40 spikes,
#: subtract the 1.5 calibration bias from the selection, flag it.
OPLIST_PLAN = [
    {"op": "select_value_threshold", "args": {"op": ">", "threshold": 60.0}},
    {
        "op": "select_value_change",
        "args": {"threshold": 40.0, "compose": True, "tiebreak": "ValueID"},
    },
    {"op": "change_value", "args": {"op": "-", "operand": 1.5}},
    {"op": "flag_selected", "args": {"qualifier_id": 9}},
]


OPLIST_REPLAY_ORACLE = (
    DV_CTE
    + """,
w AS (
  SELECT ValueID, DataValue, QualifierID,
         abs(DataValue - lead(DataValue) OVER win) AS dn,
         abs(DataValue - lag(DataValue) OVER win) AS dp
  FROM dv
  WINDOW win AS (PARTITION BY SiteID, VariableCode ORDER BY LocalDateTime, ValueID)
),
sel AS (
  SELECT ValueID, DataValue, QualifierID,
         (DataValue > 60.0) AND coalesce(dn >= 40.0 OR dp >= 40.0, FALSE) AS selected
  FROM w
)
SELECT ValueID,
       floor((CASE WHEN selected THEN DataValue - 1.5 ELSE DataValue END) * 100.0 + 0.5) / 100.0
         AS data_value,
       CASE WHEN selected THEN 9 ELSE QualifierID END AS qualifier_id,
       selected
FROM sel
"""
)


@query(
    "oplist_replay",
    oracle=OPLIST_REPLAY_ORACLE,
    description="§2.12 record/replay: four-op QC plan saved to JSON, loaded, compiled, replayed",
)
def q_oplist_replay(spark, sf_dir):
    """Record → persist → load → replay: the op-list is SAVED as JSON and
    read back before compiling, so the serialization format rides the
    hash along with every op's semantics and the AND-compose rule.
    Catalyst sees the whole composed plan as one lineage (recording costs
    nothing); the only shuffle is the per-series window the spike
    selection needs."""
    path = os.path.join(scratch_dir("h2ou_oplist_"), "plan.json")
    oplist.save_plan(OPLIST_PLAN, path)
    plan = oplist.load_plan(path)

    dv = _dv(spark, sf_dir)
    edited = oplist.apply_plan(dv, plan, keys=["SiteID", "VariableCode"])
    return edited.select(
        "ValueID",
        fround(F.col("DataValue"), 2).alias("data_value"),
        F.col("QualifierID").alias("qualifier_id"),
        F.col("selected"),
    )


# -- interactive edit-session facade round trip ---------------------------------

EDIT_SESSION_ORACLE = (
    DV_CTE
    + """,
store AS (
  SELECT ValueID, SiteID, VariableCode, LocalDateTime, DataValue, QualifierID
  FROM dv WHERE SiteID <= 10
),
edited AS (
  SELECT ValueID, SiteID, VariableCode, LocalDateTime,
         CASE WHEN DataValue > 80.0 THEN DataValue * 0.5 ELSE DataValue END AS DataValue,
         CASE WHEN DataValue > 80.0 THEN 7 ELSE QualifierID END AS QualifierID
  FROM store WHERE SiteID <= 5
)
SELECT ValueID, SiteID, VariableCode, LocalDateTime,
       floor(DataValue * 100.0 + 0.5) / 100.0 AS data_value,
       QualifierID AS qualifier_id
FROM (SELECT * FROM edited UNION ALL SELECT * FROM store WHERE SiteID > 5)
"""
)


@query(
    "edit_session_roundtrip",
    oracle=EDIT_SESSION_ORACLE,
    description="§3.3 interactive QC session end-to-end: select→edit→flag→transactional save→read back",
)
def q_edit_session_roundtrip(spark, sf_dir):
    """The §3.3 interactive QC session end-to-end on one hash: open a
    cached working set (S4) over sites ≤ 5, record a BAD edit (zero
    everything) and ROLL IT BACK (W9 — if restore() failed to truncate
    the plan, the zeros survive and flip the hash), re-record the real
    edits (threshold selection → halve → flag 7), then SAVE through the
    transactional path (W8/M1: merge_upsert into a TxTable holding the
    sites ≤ 10 store) and return the committed snapshot. The oracle
    restates the final store algebraically: edited working set replaces
    its rows by ValueID, untouched sites ride through."""
    from h2outility_spark.edit_session import EditSession
    from h2outility_spark.storage_tx import TxTable

    dv = _dv(spark, sf_dir).select(
        "ValueID", "SiteID", "VariableCode", "LocalDateTime", "DataValue", "QualifierID"
    )
    store_rows = dv.filter(F.col("SiteID") <= 10)
    table = TxTable(spark, scratch_dir("h2ou_edit_") + "/t", key_cols=["ValueID"])
    table.append(store_rows)

    sess = EditSession(dv, keys=["SiteID", "VariableCode"], series_filter=F.col("SiteID") <= 5)
    try:
        # a wrong turn, rolled back — W9 on the hash
        sess.select_value_threshold(">", -1e18).change_value("=", 0.0)
        sess.restore()
        # the real session
        sess.select_value_threshold(">", 80.0).change_value("*", 0.5).flag(7)
        sess.save_to_table(table)
    finally:
        sess.close()

    snap = table.snapshot()
    return snap.select(
        "ValueID",
        "SiteID",
        "VariableCode",
        "LocalDateTime",
        fround(F.col("DataValue"), 2).alias("data_value"),
        F.col("QualifierID").alias("qualifier_id"),
    )


# -- per-series linear trend fit -------------------------------------------------

TREND_FIT_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       floor((regr_slope(value, epoch_us(ts) / 86400000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS slope,
       floor((regr_intercept(value, epoch_us(ts) / 86400000000.0)) * 1000000.0 + 0.5) / 1000000.0 AS intercept
FROM events
GROUP BY user_id
"""


@query(
    "series_trend_fit",
    oracle=TREND_FIT_ORACLE,
    description="per-series OLS trend: regr_slope/regr_intercept, NaN-on-zero-variance folded to NULL",
)
def q_series_trend_fit(spark, sf_dir):
    """Per-series least-squares trend: slope and intercept of value vs
    time-in-days per user (the drift-rate estimator the QC drift
    correction consumes). Built-in regr_slope/regr_intercept aggregates —
    one hash aggregate with map-side partials, no window, no sort; NaN
    from zero-variance series folds to NULL for cross-engine parity."""
    ev = _t(spark, sf_dir, "events")
    days = F.unix_micros(F.col("ts")) / F.lit(86400000000.0)
    slope = F.expr("regr_slope(value, __days)")
    intercept = F.expr("regr_intercept(value, __days)")
    out = (
        ev.withColumn("__days", days)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            slope.alias("__slope"),
            intercept.alias("__icept"),
        )
    )
    fold = lambda c: F.when(F.isnan(c), F.lit(None)).otherwise(c)  # noqa: E731
    return out.select(
        "user_id",
        "n",
        fround(fold(F.col("__slope")), 6).alias("slope"),
        fround(fold(F.col("__icept")), 6).alias("intercept"),
    )


# -- weekly quality drift monitor -------------------------------------------------

QUALITY_DRIFT_ORACLE = """
WITH w AS (
  SELECT event_type, date_trunc('week', ts) AS week_start,
         quantile_cont(value, 0.50) AS p50
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start,
       floor(p50 * 10000.0 + 0.5) / 10000.0 AS p50,
       floor((p50 - lag(p50) OVER (PARTITION BY event_type ORDER BY week_start))
             * 10000.0 + 0.5) / 10000.0 AS drift
FROM w
"""


@query(
    "quality_drift_weekly",
    oracle=QUALITY_DRIFT_ORACLE,
    description="per-series weekly median with week-over-week drift delta (lag window)",
)
def q_quality_drift_weekly(spark, sf_dir):
    """Per-series weekly median and its week-over-week delta — the drift
    alarm a production corpus pipeline watches per source/series. One
    hash aggregate to the weekly grain, then a lag window over the
    (tiny) weekly frame; the first week's drift is NULL by contract.
    At 100 TB the weekly rollup is the only pass over the facts."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    # DuckDB's date_trunc('week', ts) yields DATE; Spark's yields
    # TIMESTAMP — cast to date so the grain (and the hash) agree
    w = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(F.expr("percentile(value, 0.50)").alias("__p50"))
    win = W.partitionBy("event_type").orderBy("week_start")
    return w.select(
        "event_type",
        "week_start",
        fround(F.col("__p50"), 4).alias("p50"),
        fround(F.col("__p50") - F.lag("__p50").over(win), 4).alias("drift"),
    )


# -- interpolating as-of join --------------------------------------------------------

ASOF_INTERP_ORACLE = """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
     r AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click')
SELECT l.user_id, l.event_id, l.ts,
       b.ts AS ts_before, f.ts AS ts_after,
       CASE WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN 'interp'
            WHEN b.ts IS NOT NULL THEN 'backward'
            WHEN f.ts IS NOT NULL THEN 'forward' END AS method,
       floor((CASE
         WHEN b.ts IS NOT NULL AND f.ts IS NOT NULL THEN
           b.v + (f.v - b.v) * (CAST(epoch_us(l.ts) - epoch_us(b.ts) AS DOUBLE)
                                / CAST(epoch_us(f.ts) - epoch_us(b.ts) AS DOUBLE))
         WHEN b.ts IS NOT NULL THEN b.v
         ELSE f.v END) * 10000.0 + 0.5) / 10000.0 AS value_interp
FROM l
LEFT JOIN LATERAL (
  SELECT r.ts, r.value AS v FROM r
  WHERE r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) b ON TRUE
LEFT JOIN LATERAL (
  SELECT r.ts, r.value AS v FROM r
  WHERE r.user_id = l.user_id AND r.ts > l.ts
  ORDER BY r.ts ASC, r.event_id DESC LIMIT 1
) f ON TRUE
"""


@query(
    "asof_interp_join",
    oracle=ASOF_INTERP_ORACLE,
    description="interpolating as-of join: linear interpolation between bracketing rows, constant extrapolation at edges",
)
def q_asof_interp_join(spark, sf_dir):
    """The interpolating as-of join (``asof.asof_join_interp``): each
    purchase gets the click value LINEARLY INTERPOLATED at its timestamp
    between the bracketing clicks (constant extrapolation at the edges,
    labeled by ``method``) — completing the as-of family
    backward/forward/nearest/interp. Both bracket carries ride ONE
    shuffle on user_id; the oracle is a two-LATERAL bracket lookup with
    the identical integer-microsecond interpolation arithmetic, so the
    interpolated DOUBLES (4-dp) match bit-for-bit, not just the shape."""
    from h2outility_spark.operators import asof

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof.asof_join_interp(purch, clicks, ["user_id"], value_col="value")
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "ts_before",
        "ts_after",
        "method",
        fround(F.col("value_interp"), 4).alias("value_interp"),
    )


# -- MAD robust outlier detection ------------------------------------------------------

_MAD_K = 1.4826  # consistency constant: MAD ~ sigma for a normal population
_MAD_Z = 3.5     # the Iglewicz-Hoaglin recommended cut

QC_ROBUST_MAD_ORACLE = (
    DV_CTE
    + f""",
med AS (
  SELECT SiteID, VariableCode, quantile_cont(DataValue, 0.5) AS med
  FROM dv GROUP BY 1, 2
),
j AS (
  SELECT dv.ValueID, dv.SiteID, dv.VariableCode, dv.DataValue, m.med
  FROM dv JOIN med m ON m.SiteID = dv.SiteID AND m.VariableCode = dv.VariableCode
),
mad AS (
  SELECT SiteID, VariableCode, quantile_cont(abs(DataValue - med), 0.5) AS mad
  FROM j GROUP BY 1, 2
)
SELECT j.ValueID,
       CASE WHEN d.mad > 0
            THEN {sql_round(f"abs(j.DataValue - j.med) / ({_MAD_K} * d.mad)", 4)} END AS robust_z,
       coalesce(
         CASE WHEN d.mad > 0
              THEN {sql_round(f"abs(j.DataValue - j.med) / ({_MAD_K} * d.mad)", 4)} END > {_MAD_Z},
         abs(j.DataValue - j.med) > 0
       ) AS is_outlier
FROM j JOIN mad d ON d.SiteID = j.SiteID AND d.VariableCode = j.VariableCode
"""
)


@query(
    "qc_robust_mad",
    oracle=QC_ROBUST_MAD_ORACLE,
    description="W2-family robust outliers: Iglewicz-Hoaglin modified z-score (median/MAD) per series",
)
def q_qc_robust_mad(spark, sf_dir):
    """Robust per-series outlier detection by the MAD rule (Iglewicz &
    Hoaglin's modified z-score: |x − median| / (1.4826·MAD) > 3.5) — the
    QC flag that survives the very spikes it hunts, unlike the certified
    mean/stddev ``qc_rolling_zscore`` whose statistics the outlier
    itself drags. Two exact grouped medians (series median, then MAD on
    the residuals) each broadcast back onto the fact stream — the
    winsorize/grouped-percentile scale shape doubled. Degenerate series
    (MAD = 0, over half the points identical) fall back to flagging any
    deviation from the median; the z itself is NULL there, mirrored by
    the oracle. Flag compared on the ROUNDED z on both engines."""
    dv = _dv(spark, sf_dir).select("ValueID", "SiteID", "VariableCode", "DataValue")
    keys = ["SiteID", "VariableCode"]
    med = dv.groupBy(*keys).agg(F.expr("percentile(DataValue, 0.5)").alias("med"))
    j = dv.join(F.broadcast(med), keys)
    mad = j.groupBy(*keys).agg(
        F.expr("percentile(abs(DataValue - med), 0.5)").alias("mad")
    )
    out = j.join(F.broadcast(mad), keys)
    rz = F.when(
        F.col("mad") > 0,
        fround(
            F.abs(F.col("DataValue") - F.col("med")) / (F.lit(_MAD_K) * F.col("mad")), 4
        ),
    )
    return out.select(
        "ValueID",
        rz.alias("robust_z"),
        F.coalesce(
            rz > F.lit(_MAD_Z),
            F.abs(F.col("DataValue") - F.col("med")) > F.lit(0.0),
        ).alias("is_outlier"),
    )
