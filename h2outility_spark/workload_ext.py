"""Extended workload: join variants (left-dim, self-alias, semi/anti are in
core), as-of & range joins, rollup/unpivot/percentiles, set-op dedup, G3/G5
catalog aggregates, and IVF similarity search — each with a DuckDB oracle.

These fill out the SURVEY.md §2 inventory lines not covered by the core,
QC, and text workloads, plus the "operators Spark users expect" layer
(rollup, unpivot, percentiles, as-of) that Catalyst gives nearly for free.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from h2outility_spark.operators import asof, mutation, similarity
from h2outility_spark.operators.catalog import derive_catalog, series_year_range
from h2outility_spark.schema import events_as_datavalues
from h2outility_spark.workload import DV_CTE, _t, fround, query


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


@query(
    "self_alias_join",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    description="J6: the same dim joined twice under aliases (customer nation vs supplier nation)",
)
def q_self_alias_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00")) & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cn = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sn = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == cn.c_nk)
        .join(F.broadcast(sn), supp.s_nationkey == sn.s_nk)
    )
    return joined.groupBy("cust_nation", "supp_nation").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
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
    out = asof.asof_join_backward(purch, clicks, keys=["user_id"], payload_cols=["value"])
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
        purch, clicks, keys=["user_id"], left_ts="ts", right_ts="ts", band_seconds=86400, id_col="event_id"
    )


# ---------------------------------------------------------------------------
# Rollup / unpivot / percentiles / approx
# ---------------------------------------------------------------------------

@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="Hierarchical rollup (subtotals + grand total) — free from Catalyst, absent in the reference",
)
def q_rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
    description="Wide->long unpivot (melt) — inverse of the A1 pivot",
)
def q_unpivot_part_metrics(spark, sf_dir):
    part = _t(spark, sf_dir, "part").withColumn("p_size", F.col("p_size").cast("double"))
    return part.unpivot(["p_partkey"], ["p_size", "p_retailprice"], "metric", "val")


@query(
    "percentile_summary",
    oracle="""
    SELECT l_returnflag,
           floor((quantile_cont(l_quantity, 0.25)) * 10000.0 + 0.5) / 10000.0 AS p25,
           floor((quantile_cont(l_quantity, 0.50)) * 10000.0 + 0.5) / 10000.0 AS p50,
           floor((quantile_cont(l_quantity, 0.75)) * 10000.0 + 0.5) / 10000.0 AS p75
    FROM lineitem
    GROUP BY 1
    """,
    description="Exact linear-interpolated percentiles per group",
)
def q_percentile_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fround(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25"),
        fround(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        fround(F.percentile("l_quantity", F.lit(0.75)), 4).alias("p75"),
    )


@query(
    "approx_distinct_parts",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY 1
    """,
    description=(
        "Approximate distinct (HLL) per group — the 100 TB cardinality-estimation path. "
        "The raw sketch value is engine-specific, so the oracle checks the exact count "
        "plus a bounded-relative-error claim on the sketch (|approx-exact|/exact <= 20%, "
        "~4x the default rsd=0.05)"
    ),
)
def q_approx_distinct_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return agg.select("l_returnflag", "exact_parts", (err <= 0.20).alias("approx_ok"))


# ---------------------------------------------------------------------------
# Set ops (U1 + U5) and catalog aggregates (G3, G5)
# ---------------------------------------------------------------------------

@query(
    "union_dedup",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    """,
    description="U1+U5: insert-by-union then logical-key dedup collapses the duplicates",
)
def q_union_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    doubled = mutation.add_points(ev, ev)
    deduped = mutation.drop_logical_duplicates(doubled, ["event_id"])
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


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
# IVF similarity search
# ---------------------------------------------------------------------------

@query(
    "ivf_search",
    oracle="""
    WITH cent AS (
      SELECT label, pos,
             floor((avg(x)) * 1000000.0 + 0.5) / 1000000.0 AS cv
      FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY 1, 2
    ),
    centv AS (SELECT label AS cell, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 10),
    qcell AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY list_inner_product(qv, cvec)
                          / sqrt(list_inner_product(qv, qv) * list_inner_product(cvec, cvec)) DESC,
                          cell) AS rk
        FROM q, centv) WHERE rk = 1
    ),
    s AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             list_inner_product(q.qv, CAST(e.embedding AS DOUBLE[]))
               / sqrt(list_inner_product(q.qv, q.qv)
                      * list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS cos_raw
      FROM q JOIN qcell USING (query_id)
             JOIN embeddings e ON e.label = qcell.cell AND e.vec_id <> q.query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM s)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM r WHERE rk <= 3
    """,
    description=(
        "IVF ANN search: probe the nearest centroid cell only (rounded centroids for "
        "engine-stable assignment), exact cosine top-3 within the cell"
    ),
)
def q_ivf_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_search(emb, queries, k=3)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


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


# ---------------------------------------------------------------------------
# Skew-safe aggregation (semantics-preserving two-phase salted agg)
# ---------------------------------------------------------------------------

@query(
    "salted_agg",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           floor((sum(value)) * 100.0 + 0.5) / 100.0 AS sum_value
    FROM events
    GROUP BY 1
    """,
    description=(
        "Skew-safe two-phase salted aggregation over a hot key — identical results to the "
        "plain groupBy (the oracle), with per-key volume split across 16 salted partials"
    ),
)
def q_salted_agg(spark, sf_dir):
    from h2outility_spark.operators import skew

    ev = _t(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        ["event_type"],
        {"n": ("count", "value"), "sum_raw": ("sum", "value")},
        salt_source=F.col("event_id"),
        n_salts=16,
    )
    return out.select("event_type", F.col("n").cast("bigint").alias("n"), fround(F.col("sum_raw"), 2).alias("sum_value"))


# ---------------------------------------------------------------------------
# SQL-API twin, array stats, bounded window frames
# ---------------------------------------------------------------------------

@query(
    "sql_api_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="S2-analog: the spark.sql/view-registration surface (same Catalyst plan as the DataFrame form)",
)
def q_sql_api_q1(spark, sf_dir):
    from h2outility_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem"])
    # NB: bare decimal literals are DecimalType in Spark SQL (unlike the
    # DataFrame API) — the D suffix keeps the arithmetic in doubles so the
    # result is bit-identical to the oracle's.
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               floor(sum(l_quantity) * 100.0D + 0.5D) / 100.0D AS sum_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


@query(
    "embedding_stats",
    oracle="""
    SELECT vec_id,
           floor((sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))
                 * 10000.0 + 0.5) / 10000.0 AS l2_norm,
           floor((CAST(list_max(CAST(embedding AS DOUBLE[])) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS max_dim,
           floor((CAST(list_min(CAST(embedding AS DOUBLE[])) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS min_dim
    FROM embeddings
    """,
    description="Array-column scalar surface: L2 norm (fold dot), element max/min per vector",
)
def q_embedding_stats(spark, sf_dir):
    from h2outility_spark.operators.similarity import as_double, dot

    emb = _t(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    return emb.select(
        "vec_id",
        fround(F.sqrt(dot(v, v)), 4).alias("l2_norm"),
        fround(F.array_max(v), 4).alias("max_dim"),
        fround(F.array_min(v), 4).alias("min_dim"),
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


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT user_id, ts AS t_click FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS t_purchase FROM events WHERE event_type = 'purchase'),
    vc AS (SELECT v.user_id, v.t_view, min(c.t_click) AS t_click
           FROM v JOIN c ON v.user_id = c.user_id AND c.t_click > v.t_view
           GROUP BY 1, 2),
    vcp AS (SELECT vc.user_id, vc.t_view, vc.t_click, min(p.t_purchase) AS t_purchase
            FROM vc JOIN p ON vc.user_id = p.user_id AND p.t_purchase > vc.t_click
            GROUP BY 1, 2, 3)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM vc) AS BIGINT) AS n_clicked_after,
           CAST((SELECT count(*) FROM vcp) AS BIGINT) AS n_purchased_after
    """,
    description=(
        "Sequential funnel: users whose first view is followed by a click, then a "
        "purchase, in strict event-time order — each stage is an earliest-event-after "
        "aggregate join (min-after-anchor), the ordered-sequence shape plain joins "
        "cannot express without the time predicate"
    ),
)
def q_funnel_conversion(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("t_click"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_purchase")
    )
    vc = (
        v.join(c, "user_id")
        .filter(F.col("t_click") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("t_click").alias("t_click"))
    )
    vcp = (
        vc.join(p, "user_id")
        .filter(F.col("t_purchase") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("t_purchase").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .join(F.broadcast(vc.agg(F.count(F.lit(1)).alias("n_clicked_after"))))
        .join(F.broadcast(vcp.agg(F.count(F.lit(1)).alias("n_purchased_after"))))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
    SELECT f.cohort_week,
           CAST(datediff('week', f.cohort_week, a.act_week) AS INT) AS week_offset,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    description=(
        "Retention cohorts: users grouped by first-activity week, counted active per "
        "week offset — the self-referential cohort shape (first-touch aggregate joined "
        "back to the activity stream)"
    ),
)
def q_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("act_week")).distinct()
    joined = firsts.join(activity, "user_id")
    week_off = (
        (F.unix_micros(F.col("act_week")) - F.unix_micros(F.col("cohort_week")))
        / F.lit(7 * 86400 * 1_000_000)
    ).cast("int")
    return joined.groupBy(
        F.to_date("cohort_week").alias("cohort_week"), week_off.alias("week_offset")
    ).agg(F.count_distinct("user_id").alias("n_active"))


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
    description=(
        "Custom GROUPING SETS (each axis alone + the pair, no grand total) — the "
        "general form cube/rollup specialize; one pass, Catalyst expands the sets"
    ),
)
def q_grouping_sets_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed codes + ADC search with exact re-rank
# ---------------------------------------------------------------------------

# Shared oracle CTE chain: per-label mean centroids rounded 6dp -> subspace
# codebooks (m=8 slices of width 8) -> per-(vector, subspace) argmin code.
# Every distance/score is a sequential fold (list_inner_product), matching
# the Spark-side `dot` bit-for-bit — the same parity device as the k-means
# oracle.
_PQ_ENC_CTE = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    cm AS (SELECT label, r.range AS pos, avg(v[CAST(r.range AS INT) + 1]) AS cv
           FROM e CROSS JOIN range(64) r GROUP BY 1, 2),
    cl AS (SELECT label, list(floor(cv * 1000000.0 + 0.5) / 1000000.0 ORDER BY pos) AS cvec
           FROM cm GROUP BY label),
    cb AS (SELECT label AS code, CAST(s.range AS INT) AS s,
                  list_slice(cvec, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS cvec
           FROM cl CROSS JOIN range(8) s),
    subs AS (SELECT vec_id, CAST(s.range AS INT) AS s,
                    list_slice(v, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS vsub
             FROM e CROSS JOIN range(8) s),
    enc AS (SELECT vec_id, s, code FROM (
        SELECT subs.vec_id, subs.s, cb.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.s
                 ORDER BY list_inner_product(cb.cvec, cb.cvec)
                          - 2.0 * list_inner_product(subs.vsub, cb.cvec), cb.code) AS rn
        FROM subs JOIN cb ON cb.s = subs.s) WHERE rn = 1)
"""


@query(
    "pq_codes",
    oracle="WITH " + _PQ_ENC_CTE + "\n    SELECT vec_id, s, code FROM enc",
    description=(
        "Product-quantization encode: 64-dim vector -> 8 subspace codes (nearest "
        "rounded per-label mean slice by squared L2) — the 32x-compressed scan "
        "representation; broadcast codebooks, narrow-map argmin"
    ),
)
def q_pq_codes(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks(emb)
    return similarity.pq_encode(emb, cbs)


@query(
    "pq_search",
    oracle=None,  # assigned below — full production chain via _pq_kmeans_oracle
    description=(
        "Production PQ ANN search end-to-end: per-subspace k-means codebooks "
        "(k=8, 2 Lloyd iterations), ADC scan over reconstructed (quantized) "
        "vectors -> top-50 shortlist -> exact cosine re-rank -> top-3; at scale "
        "the ADC scan reads 8-byte codes instead of 256-byte floats (32x "
        "bandwidth), layerable under IVF cells for scan skipping"
    ),
)
def q_pq_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cbs = similarity.pq_codebooks_kmeans(emb, m=8, dim=64, k=8, max_iter=2, round_dp=6)
    out = similarity.pq_search(emb, queries, k=3, shortlist=50, codebooks=cbs)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


_PQ_SEARCH_TAIL = """
    recon AS (
      SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
      FROM enc JOIN cbr cb2 ON cb2.s = enc.s AND cb2.code = enc.code
      GROUP BY enc.vec_id),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    approx AS (
      SELECT q.query_id, r.vec_id AS cand_id, q.qv,
             list_inner_product(q.qv, r.rvec)
               / sqrt(list_inner_product(q.qv, q.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
      FROM recon r CROSS JOIN q WHERE r.vec_id <> q.query_id),
    short AS (SELECT query_id, cand_id, qv FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
        FROM approx) WHERE rn <= 50),
    ex AS (
      SELECT s.query_id, s.cand_id,
             list_inner_product(s.qv, e2.v)
               / sqrt(list_inner_product(s.qv, s.qv) * list_inner_product(e2.v, e2.v)) AS cos_raw
      FROM short s JOIN e e2 ON e2.vec_id = s.cand_id)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
    WHERE rk <= 3
    """



@query(
    "ivfpq_search",
    oracle="WITH " + _PQ_ENC_CTE + """,
    recon AS (
      SELECT enc.vec_id, flatten(list(cb2.cvec ORDER BY enc.s)) AS rvec
      FROM enc JOIN cb cb2 ON cb2.s = enc.s AND cb2.code = enc.code
      GROUP BY enc.vec_id),
    centv AS (SELECT label AS cell, cvec FROM cl),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qcell AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_inner_product(q.qv, c.cvec)
                          / sqrt(list_inner_product(q.qv, q.qv)
                                 * list_inner_product(c.cvec, c.cvec)) DESC, c.cell) AS rk
        FROM q CROSS JOIN centv c) WHERE rk <= 2),
    approx AS (
      SELECT qc.query_id, qc.qv, e2.vec_id AS cand_id,
             list_inner_product(qc.qv, r.rvec)
               / sqrt(list_inner_product(qc.qv, qc.qv) * list_inner_product(r.rvec, r.rvec)) AS asim
      FROM qcell qc
      JOIN e e2 ON e2.label = qc.cell AND e2.vec_id <> qc.query_id
      JOIN recon r ON r.vec_id = e2.vec_id),
    short AS (SELECT query_id, qv, cand_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY asim DESC, cand_id) AS rn
        FROM approx) WHERE rn <= 30),
    ex AS (
      SELECT s.query_id, s.cand_id,
             list_inner_product(s.qv, e3.v)
               / sqrt(list_inner_product(s.qv, s.qv) * list_inner_product(e3.v, e3.v)) AS cos_raw
      FROM short s JOIN e e3 ON e3.vec_id = s.cand_id)
    SELECT query_id, cand_id, floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, cand_id) AS rk FROM ex)
    WHERE rk <= 3
    """,
    description=(
        "Composed IVF-PQ (FAISS IVFADC as DataFrame ops): probe the 2 nearest "
        "cells, ADC-score only the probed cells' candidates against PQ "
        "reconstructions, exact-re-rank the top 30, emit top 3 — cells prune the "
        "scan, codes compress it, the re-rank repairs ranking error"
    ),
)
def q_ivfpq_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivfpq_search(emb, queries, k=3, n_probe=2, shortlist=30)
    return out.select("query_id", "cand_id", fround(F.col("cos_sim"), 4).alias("cos_sim"))


def _pq_kmeans_oracle(tail: str | None = None) -> str:
    """PQ with per-subspace k-means codebooks, unrolled as grouped chained
    CTEs — the production training recipe made driver-hashable. Same parity
    devices as _kmeans_oracle (workload_text): seeds are the first k
    vectors' slices (cluster id = rank order, identical for every subspace
    because every subspace has the same vec_ids), assignment argmin via
    c·c − 2·v·c with sequential-fold inner products, empty clusters keep
    their previous centroid, intermediate centroids stay RAW and only the
    final codebook rounds to 6 dp before the encode argmin (mirroring
    pq_codebooks_kmeans(round_dp=6))."""
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "subs AS (SELECT vec_id, CAST(s.range AS INT) AS s, "
            "list_slice(v, CAST(s.range * 8 + 1 AS INT), CAST(s.range * 8 + 8 AS INT)) AS vs "
            "FROM e CROSS JOIN range(8) s)"
        ),
        (
            "c0 AS (SELECT s, cluster, cvec FROM ("
            "SELECT subs.s, subs.vs AS cvec, "
            "(row_number() OVER (PARTITION BY subs.s ORDER BY subs.vec_id)) - 1 AS cluster "
            "FROM subs) WHERE cluster < 8)"
        ),
    ]
    prev = "c0"
    for i in range(1, 3):
        parts.append(
            f"a{i} AS (SELECT vec_id, s, vs, cluster FROM ("
            "SELECT subs.vec_id, subs.s, subs.vs, c.cluster, "
            "row_number() OVER (PARTITION BY subs.vec_id, subs.s "
            "ORDER BY list_inner_product(c.cvec, c.cvec) - 2.0 * list_inner_product(subs.vs, c.cvec), "
            f"c.cluster) AS rn FROM subs JOIN {prev} c ON c.s = subs.s) WHERE rn = 1)"
        )
        parts.append(
            f"p{i} AS (SELECT s, cluster, r.range AS pos, avg(vs[CAST(r.range AS INT) + 1]) AS cv "
            f"FROM a{i} CROSS JOIN range(8) r GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"g{i} AS (SELECT s, cluster, list(cv ORDER BY pos) AS cvec FROM p{i} GROUP BY 1, 2)"
        )
        parts.append(
            f"c{i} AS (SELECT c.s, c.cluster, coalesce(g.cvec, c.cvec) AS cvec "
            f"FROM {prev} c LEFT JOIN g{i} g ON g.s = c.s AND g.cluster = c.cluster)"
        )
        prev = f"c{i}"
    parts.append(
        "cbp AS (SELECT s, cluster AS code, r.range AS pos, "
        "floor(cvec[CAST(r.range AS INT) + 1] * 1000000.0 + 0.5) / 1000000.0 AS cv "
        f"FROM {prev} CROSS JOIN range(8) r)"
    )
    parts.append("cbr AS (SELECT s, code, list(cv ORDER BY pos) AS cvec FROM cbp GROUP BY 1, 2)")
    parts.append(
        "enc AS (SELECT vec_id, s, code FROM ("
        "SELECT subs.vec_id, subs.s, cb.code, "
        "row_number() OVER (PARTITION BY subs.vec_id, subs.s "
        "ORDER BY list_inner_product(cb.cvec, cb.cvec) - 2.0 * list_inner_product(subs.vs, cb.cvec), "
        "cb.code) AS rn FROM subs JOIN cbr cb ON cb.s = subs.s) WHERE rn = 1)"
    )
    if tail is None:
        tail = "SELECT vec_id, s, code FROM enc"
    return ",\n".join(parts) + "\n" + tail


@query(
    "pq_codes_kmeans",
    oracle=_pq_kmeans_oracle(),
    description=(
        "Production PQ encode: per-subspace k-means codebooks (k=8, 2 Lloyd "
        "iterations per subspace — the FAISS training recipe) rounded 6dp, then "
        "the per-(vector, subspace) argmin code; oracle unrolls all subspaces' "
        "k-means jointly as grouped chained CTEs"
    ),
)
def q_pq_codes_kmeans(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks_kmeans(emb, m=8, dim=64, k=8, max_iter=2, round_dp=6)
    return similarity.pq_encode(emb, cbs)


# pq_search's oracle needs _pq_kmeans_oracle (defined above after the query
# for readability): splice the search tail after the enc CTE.
from h2outility_spark.workload import REGISTRY  # noqa: E402

REGISTRY["pq_search"].oracle = _pq_kmeans_oracle(tail="," + _PQ_SEARCH_TAIL)
