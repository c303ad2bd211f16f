"""Sketch and graph family: mergeable approximate summaries (HyperLogLog
registers, Count-Min, Bloom prefilters, histogram quantiles, Spark's own
approx_count_distinct / approx_percentile) and iterative graph algorithms
(PageRank, label propagation) over the nation trade graph.

Every sketch is md5-derived, so the DuckDB oracle rebuilds it bit-for-bit;
where the engine's own sketch is randomized, the hashed result is its
accuracy certificate (estimate inside a stated band of the exact value).
Graph iterations are unrolled as chained CTEs on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from h2outility_spark.functions import fround
from h2outility_spark.operators import graph, sketch
from h2outility_spark.session import query_cache
from h2outility_spark.workload import _t, query, sql_round


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


# -- PageRank over the nation trade graph (iterative broadcast-model) -----------

_PR_DAMP, _PR_ITERS = 0.85, 3


#: The trade-graph edge list the registered pair aggregates on the fly.
_PR_TRADE_EDGES_CTE = """edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)"""


def _pagerank_oracle() -> str:
    """Weighted PageRank unrolled as chained CTEs (the kmeans-oracle
    pattern): one (dangling-mass, rank-update) pair per iteration,
    mirroring the Spark loop step for step. Both sides round to 6 dp at
    the end only; intermediate sums differ at most in the last ulp."""
    parts = [
        "WITH " + _PR_TRADE_EDGES_CTE,
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(r), 0.0) / (SELECT n FROM nn) AS ds "
            f"FROM {prev} WHERE node NOT IN (SELECT src FROM outw))"
        )
        parts.append(
            f"r{i} AS (SELECT nd.node, "
            f"(1.0 - {_PR_DAMP}) / (SELECT n FROM nn) + {_PR_DAMP} * (coalesce(inc.s, 0.0) + (SELECT ds FROM d{i})) AS r "
            f"FROM nodes nd LEFT JOIN ("
            f"SELECT e.dst AS node, sum(p.r * e.w / o.ow) AS s "
            f"FROM edges e JOIN {prev} p ON e.src = p.node JOIN outw o ON e.src = o.src "
            f"GROUP BY e.dst) inc ON nd.node = inc.node)"
        )
        prev = f"r{i}"
    final = f"SELECT node, {sql_round('r', 6)} AS rank FROM {prev}"
    return ",\n".join(parts) + "\n" + final


PAGERANK_ORACLE = _pagerank_oracle()


def _pagerank_loop(edges, nodes, n_nodes: float):
    """The weighted-PageRank iteration: tiny broadcast rank vector per
    iteration, bounded dangling-mass scalar collect, dangling mass
    redistributed uniformly. ``edges`` is (src, dst, w), which every
    iteration reads, so the caller passes it through ``query_cache``;
    ``nodes`` is a single ``node`` column. The Spark side stays
    op-for-op identical to the unrolled-CTE oracle text
    (``_pagerank_oracle``)."""
    outw = query_cache(edges.groupBy("src").agg(F.sum("w").alias("ow")))
    ranks = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    for _ in range(_PR_ITERS):
        # dangling mass: a bounded scalar collect per iteration
        ds = (
            ranks.join(outw, ranks.node == outw.src, "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("s"))
            .first()["s"]
        ) / n_nodes
        inc = (
            edges.join(F.broadcast(ranks), edges.src == ranks.node)
            .join(F.broadcast(outw), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("ow")).alias("s"))
        )
        ranks = nodes.join(
            F.broadcast(inc), nodes.node == inc.dst, "left"
        ).select(
            "node",
            (
                F.lit((1.0 - _PR_DAMP) / n_nodes)
                + F.lit(_PR_DAMP) * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(ds))
            ).alias("r"),
        )
    return ranks


@query(
    "pagerank_nation_trade",
    oracle=PAGERANK_ORACLE,
    description="weighted PageRank over the nation trade graph: damping 0.85, 3 iterations, dangling-mass redistribution",
)
def q_pagerank_nation_trade(spark, sf_dir):
    """Weighted PageRank (damping 0.85, 3 iterations) over the
    customer-nation → supplier-nation trade graph, with dangling-mass
    redistribution: the iterative-graph-algorithm shape (kmeans pattern —
    tiny broadcast model per iteration, big data touched once to build
    the edge list). The edge aggregation is the only heavy shuffle; each
    iteration joins the 25-row rank vector back to the ≤625-row edge
    list, so at 100 TB the loop costs nothing after the first pass. The
    dangling scalar is a bounded per-iteration collect (the broadcast-
    model discipline kmeans already uses); the oracle unrolls all three
    iterations as chained CTEs."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))

    edges = query_cache(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = _pagerank_loop(edges, nation, float(nation.count()))
    return ranks.select("node", fround(F.col("r"), 6).alias("rank"))


# -- approx-percentile accuracy under the driver hash ----------------------------

APPROX_PCTL_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor((quantile_cont(value, 0.50)) * 10000.0 + 0.5) / 10000.0 AS p50_exact,
       TRUE AS within_bounds
FROM events
GROUP BY event_type
"""


@query(
    "approx_percentile_bounds",
    oracle=APPROX_PCTL_ORACLE,
    description="sketch-accuracy contract: approx_percentile must land inside the exact [p49.5,p50.5] band",
)
def q_approx_percentile_bounds(spark, sf_dir):
    """The sketch-accuracy contract promoted from pytest to the driver
    hash: per group, approx_percentile(value, 0.5, accuracy=1000) —
    rank error ≤ 0.1% — must land inside the exact [p49.5, p50.5] value
    band (5× margin). The oracle states TRUE for every group, so ANY
    group where the sketch drifts out of bounds flips the hash. The
    sketch is the 100 TB path (mergeable, single-pass, no sort); the
    exact percentile rides along only as the certificate."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(value, 0.50)").alias("__exact"),
        F.expr("approx_percentile(value, 0.50, 1000)").alias("__approx"),
        F.expr("percentile(value, 0.495)").alias("__lo"),
        F.expr("percentile(value, 0.505)").alias("__hi"),
    )
    return agg.select(
        "event_type",
        "n",
        fround(F.col("__exact"), 4).alias("p50_exact"),
        ((F.col("__approx") >= F.col("__lo")) & (F.col("__approx") <= F.col("__hi"))).alias(
            "within_bounds"
        ),
    )


# -- sketch-accuracy contract for approx_count_distinct -----------------------------

APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bounds
FROM events
GROUP BY event_type
"""


@query(
    "approx_distinct_bounds",
    oracle=APPROX_DISTINCT_ORACLE,
    description="HLL++ accuracy certificate: approx_count_distinct inside the 5-sigma band of the exact count",
)
def q_approx_distinct_bounds(spark, sf_dir):
    """HyperLogLog++ accuracy under the driver hash (sibling of
    approx_percentile_bounds): per group, approx_count_distinct(user_id)
    at rsd=0.02 must land within ±10% of the exact distinct count (5×
    the standard deviation, so a correct sketch essentially never
    trips). The sketch is the 100 TB path — mergeable, fixed memory, no
    shuffle of the distinct values; the exact count rides along only as
    the certificate."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("approx_count_distinct(user_id, 0.02)").alias("__approx"),
    )
    tol = F.col("exact_users") * F.lit(0.10)
    return agg.select(
        "event_type",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (F.abs(F.col("__approx") - F.col("exact_users")) <= tol).alias("within_bounds"),
    )


# -- Count-Min heavy hitters with the over-estimate certificate ---------------------

_CMS_D, _CMS_W = 3, 256

HEAVY_HITTERS_ORACLE = f"""
WITH cells AS (
  SELECT j,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS bucket,
         count(*) AS c
  FROM events, range(0, {_CMS_D}) t(j)
  GROUP BY 1, 2
),
exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM events GROUP BY 1),
topk AS (
  SELECT user_id, exact_n
  FROM (SELECT *, row_number() OVER (ORDER BY exact_n DESC, user_id) AS rk FROM exact)
  WHERE rk <= 10
),
probes AS (
  SELECT t.user_id, t.exact_n, r.j,
         ('0x' || substr(md5(CAST(t.user_id AS VARCHAR) || ':' || CAST(r.j AS VARCHAR)), 1, 8))::BIGINT
           % {_CMS_W} AS bucket
  FROM topk t, range(0, {_CMS_D}) r(j)
),
est AS (
  SELECT p.user_id, min(coalesce(c.c, 0)) AS est_n
  FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY 1
)
SELECT t.user_id, t.exact_n, CAST(e.est_n AS BIGINT) AS est_n,
       e.est_n >= t.exact_n AS over_ok
FROM topk t JOIN est e ON e.user_id = t.user_id
"""


@query(
    "heavy_hitters_cms",
    oracle=HEAVY_HITTERS_ORACLE,
    description="Count-Min sketch heavy hitters: top-10 exact counts beside CMS estimates + over-estimate guarantee",
)
def q_heavy_hitters_cms(spark, sf_dir):
    """Count-Min heavy hitters (``operators/sketch.py``): the d×w grid is
    ONE explode + ONE combiner-friendly hash aggregate whose output is
    bounded (d·w cells) however large the stream, and grids merge
    cell-wise — the 100 TB frequent-items shape. The top-10 exact counts
    ride the hash next to their CMS estimates plus the sketch's defining
    over-estimate guarantee (est ≥ exact, violated by nothing but a
    broken hash/grid). The oracle rebuilds the exact same md5-derived
    grid in SQL, so the estimates must agree to the COUNT, not just the
    boolean."""
    from pyspark.sql import Window as W

    from h2outility_spark.operators import sketch

    ev = _t(spark, sf_dir, "events").select("user_id")
    cms = sketch.count_min_table(ev, "user_id", depth=_CMS_D, width=_CMS_W)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    topk = (
        exact.withColumn(
            "rk", F.row_number().over(W.partitionBy().orderBy(F.desc("exact_n"), "user_id"))
        )
        .filter(F.col("rk") <= 10)
        .drop("rk")
    )
    est = sketch.count_min_estimate(
        cms, topk.select("user_id"), "user_id", depth=_CMS_D, width=_CMS_W
    )
    return topk.join(est, "user_id").select(
        "user_id",
        "exact_n",
        F.col("est_n").cast("bigint").alias("est_n"),
        (F.col("est_n") >= F.col("exact_n")).alias("over_ok"),
    )


# -- histogram quantile sketch with a provable error bound -----------------------------

_HQ_BINS = 128

HIST_QUANTILE_ORACLE = f"""
WITH src AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
g AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx,
         CAST(count(*) AS BIGINT) AS n,
         quantile_disc(value, 0.5) AS p50d
  FROM src GROUP BY 1
),
b AS (
  SELECT e.event_type,
         CASE WHEN g.mx > g.mn
              THEN least({_HQ_BINS - 1},
                         CAST(floor((e.value - g.mn) / ((g.mx - g.mn) / {_HQ_BINS}.0)) AS BIGINT))
              ELSE 0 END AS bin
  FROM src e JOIN g ON g.event_type = e.event_type
),
h AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
  FROM h
),
sel AS (
  SELECT c.event_type, min(c.bin) AS bin50
  FROM cum c JOIN g ON g.event_type = c.event_type
  WHERE c.cum >= 0.5 * g.n
  GROUP BY 1
)
SELECT g.event_type, g.n,
       {sql_round("g.p50d", 4)} AS p50_exact,
       {sql_round("g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_HQ_BINS) + ".0)", 4)} AS p50_est,
       {sql_round("abs((g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_HQ_BINS) + ".0)) - g.p50d)", 6)}
         <= {sql_round("(g.mx - g.mn) / " + str(_HQ_BINS) + ".0", 6)} + 1e-9 AS within_bin
FROM g JOIN sel ON sel.event_type = g.event_type
"""


@query(
    "histogram_quantile_sketch",
    oracle=HIST_QUANTILE_ORACLE,
    description="128-bin mergeable histogram median with the provable |est-p50| <= bin-width certificate",
)
def q_histogram_quantile_sketch(spark, sf_dir):
    """The third member of the sketch family (HLL++ distinct, Count-Min
    frequency, now quantiles): a fixed-width {bins}-bin histogram per
    group estimates the DISCRETE median as the upper edge of the first
    bin whose cumulative count crosses n/2, with the PROVABLE error
    bound |est − p50| ≤ one bin width — the smallest value whose
    cume_dist ≥ 0.5 lives in exactly that bin, so the bound is a
    theorem, not a tuning claim. The certificate (exact p50 via
    percentile_disc / quantile_disc, identical lower-median semantics
    both engines — probed: n=2 → lower, n=4 → lower) rides the hash
    next to the estimate. Shape: two hash aggregates + a bins-bounded
    window; histograms with shared edges MERGE cell-wise across
    shards/days exactly like the CMS grid. Threshold compared on
    ROUNDED values on both engines (the r9 boundary lesson)."""
    from pyspark.sql import Window as W

    # NULL values filtered on both sides (same bin-NULL window-ordering
    # hazard as weekly_pctl_rollup — Spark NULLs-first vs DuckDB NULLs-last)
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    g = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50d"),
    )
    j = ev.join(F.broadcast(g), "event_type")
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS))
    bin_ = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(F.lit(_HQ_BINS - 1), F.floor((F.col("value") - F.col("mn")) / width)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    hist = j.groupBy("event_type", bin_.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
    cum_w = W.partitionBy("event_type").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select("event_type", "bin", F.sum("c").over(cum_w).alias("cum"))
    sel = (
        cum.join(F.broadcast(g.select("event_type", "n")), "event_type")
        .filter(F.col("cum") >= F.lit(0.5) * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("bin").alias("bin50"))
    )
    out = g.join(sel, "event_type")
    w_ = (F.col("mx") - F.col("mn")) / F.lit(float(_HQ_BINS))
    est = F.col("mn") + (F.col("bin50") + 1) * w_
    return out.select(
        "event_type",
        "n",
        fround(F.col("p50d"), 4).alias("p50_exact"),
        fround(est, 4).alias("p50_est"),
        (fround(F.abs(est - F.col("p50d")), 6) <= fround(w_, 6) + F.lit(1e-9)).alias(
            "within_bin"
        ),
    )


# -- weekly percentile rollup: daily sketches merged, never rescanned ------------------

_WPR_BINS = 128

WEEKLY_PCTL_ORACLE = f"""
WITH src AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
g AS (
  SELECT min(value) AS mn, max(value) AS mx FROM src
),
wk AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         value
  FROM src
),
b AS (
  SELECT wk.week, wk.day,
         CASE WHEN g.mx > g.mn
              THEN least({_WPR_BINS - 1},
                         CAST(floor((wk.value - g.mn) / ((g.mx - g.mn) / {_WPR_BINS}.0)) AS BIGINT))
              ELSE 0 END AS bin
  FROM wk, g
),
daily AS (SELECT week, day, bin, count(*) AS c FROM b GROUP BY 1, 2, 3),
weekly AS (SELECT week, bin, CAST(sum(c) AS BIGINT) AS c FROM daily GROUP BY 1, 2),
stats AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(count(*) AS BIGINT) AS n,
         quantile_disc(value, 0.5) AS p50d
  FROM src GROUP BY 1
),
cum AS (
  SELECT week, bin,
         CAST(sum(c) OVER (PARTITION BY week ORDER BY bin) AS BIGINT) AS cum
  FROM weekly
),
sel AS (
  SELECT c.week, min(c.bin) AS bin50
  FROM cum c JOIN stats s ON s.week = c.week
  WHERE c.cum >= 0.5 * s.n
  GROUP BY 1
)
SELECT s.week, s.n,
       {sql_round("s.p50d", 4)} AS p50_exact,
       {sql_round("g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_WPR_BINS) + ".0)", 4)} AS p50_est,
       {sql_round("abs((g.mn + (sel.bin50 + 1) * ((g.mx - g.mn) / " + str(_WPR_BINS) + ".0)) - s.p50d)", 6)}
         <= {sql_round("(g.mx - g.mn) / " + str(_WPR_BINS) + ".0", 6)} + 1e-9 AS within_bin
FROM stats s JOIN sel ON sel.week = s.week, g
"""


@query(
    "weekly_pctl_rollup",
    oracle=WEEKLY_PCTL_ORACLE,
    description="weekly exact p50 next to the shared-edge histogram estimate with the within-bin certificate",
)
def q_weekly_pctl_rollup(spark, sf_dir):
    """The sketch-ROLLUP pattern the per-group histogram certificate
    (``histogram_quantile_sketch``) stops short of: per-DAY histograms
    are built once and the WEEKLY estimate comes from merging the daily
    grids CELL-WISE (group day→week, sum counts) — never rescanning the
    raw rows, which is how a 100 TB pipeline serves any rollup grain
    from daily pre-aggregates. Mergeability requires SHARED bin edges,
    so the edges come from a one-row global min/max broadcast (the BNLJ
    is 1 row by construction, allowlisted). The certificate per week:
    exact p50 (percentile_disc, lower-median semantics probed identical
    in both engines) vs the merged-grid estimate, with the provable
    |est − p50| ≤ bin-width bound on the hash. The oracle rebuilds the
    daily→weekly merge itself, so a rollup that rescanned rows but got
    different cells, or merged wrong, flips the hash."""
    from pyspark.sql import Window as W

    # NULL values are filtered on BOTH sides: a NULL lands in a NULL bin,
    # and the engines disagree on NULL placement in the cumulative window
    # ORDER BY (Spark sorts NULLs first, DuckDB last) — a latent hash flip
    # on nullable data even though exact percentiles ignore NULLs anyway.
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("ts", "value")
    )
    g = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    j = ev.join(F.broadcast(g))  # 1-row global-edges broadcast
    width = (F.col("mx") - F.col("mn")) / F.lit(float(_WPR_BINS))
    bin_ = (
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(F.lit(_WPR_BINS - 1), F.floor((F.col("value") - F.col("mn")) / width)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    week = F.to_date(F.date_trunc("week", F.col("ts"))).alias("week")
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    daily = j.groupBy(week, day, bin_.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
    weekly = daily.groupBy("week", "bin").agg(F.sum("c").alias("c"))
    stats = ev.groupBy(week).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50d"),
    )
    cum_w = W.partitionBy("week").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = weekly.select("week", "bin", F.sum("c").over(cum_w).alias("cum"))
    sel = (
        cum.join(F.broadcast(stats.select("week", "n")), "week")
        .filter(F.col("cum") >= F.lit(0.5) * F.col("n"))
        .groupBy("week")
        .agg(F.min("bin").alias("bin50"))
    )
    out = stats.join(sel, "week").join(F.broadcast(g))
    w_ = (F.col("mx") - F.col("mn")) / F.lit(float(_WPR_BINS))
    est = F.col("mn") + (F.col("bin50") + 1) * w_
    return out.select(
        "week",
        "n",
        fround(F.col("p50d"), 4).alias("p50_exact"),
        fround(est, 4).alias("p50_est"),
        (fround(F.abs(est - F.col("p50d")), 6) <= fround(w_, 6) + F.lit(1e-9)).alias(
            "within_bin"
        ),
    )


# -- HLL register rollup: daily grids max-merged to weekly ----------------------------

#: alpha_m * m^2 for m = 256 — the SAME pinned double the Spark side
#: uses (sketch.HLL_ALPHA_M2), repr'd into the oracle so neither engine
#: re-derives it through different operation order.
_HLL_ALPHA_M2 = sketch.HLL_ALPHA_M2

_HLL_RHO_ORACLE = (
    "(CASE WHEN stripped = '' THEN 33 "
    "ELSE 4 * (8 - length(stripped)) + "
    "(CASE WHEN substr(stripped, 1, 1) = '1' THEN 3 "
    " WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2 "
    " WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7') THEN 1 "
    " ELSE 0 END) + 1 END)"
)


def _hll_case_sql(s: str, n: str) -> str:
    """The full ``sketch.hll_estimate`` range-correction CASE over a
    harmonic-sum column ``s`` and non-empty-bucket count ``n`` — kept in
    exact branch-for-branch sync with the Spark operator (small-range
    linear counting, raw, 32-bit large-range correction, NULL past
    saturation). The large-range branches are untaken at any test SF
    but pinned here so both engines state the same estimator."""
    raw = f"{_HLL_ALPHA_M2!r} / ({s} + (256.0 - {n}))"
    return (
        f"CASE WHEN {raw} <= 640.0 AND {n} < 256.0 "
        f"THEN 256.0 * ln(256.0 / (256.0 - {n})) "
        f"WHEN {raw} <= 4294967296.0 / 30.0 THEN {raw} "
        f"WHEN {raw} < 4294967296.0 "
        f"THEN -4294967296.0 * ln(1.0 - {raw} / 4294967296.0) "
        f"ELSE NULL END"
    )


HLL_ROLLUP_ORACLE = f"""
WITH e AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT week,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
         regexp_replace(substr(md5(CAST(user_id AS VARCHAR)), 3, 8), '^0+', '') AS stripped
  FROM e
),
r AS (
  SELECT week, bucket, max({_HLL_RHO_ORACLE}) AS reg
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT week, sum(power(2.0, -reg)) AS s_nonempty,
         CAST(count(*) AS DOUBLE) AS n_nonempty
  FROM r GROUP BY 1
),
est AS (
  SELECT week, {_hll_case_sql("s_nonempty", "n_nonempty")} AS e
  FROM agg
),
ex AS (
  SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM e GROUP BY 1
)
SELECT ex.week, ex.n_exact,
       {sql_round("est.e", 4)} AS est_distinct,
       abs({sql_round("est.e", 4)} / CAST(ex.n_exact AS DOUBLE) - 1.0) <= 0.2 AS within_band
FROM ex JOIN est ON est.week = ex.week
"""


@query(
    "hll_register_rollup",
    oracle=HLL_ROLLUP_ORACLE,
    description="Mergeable HLL registers: per-day grids max-merged to weekly; merge law + 3-sigma band on the hash",
)
def q_hll_register_rollup(spark, sf_dir):
    """The fourth sketch family, fully transparent and MERGEABLE: manual
    HyperLogLog registers (``sketch.hll_registers`` — bucket = first two
    md5 hex chars, rho = leading-zero count of the next eight via pure
    string/CASE arithmetic, so both engines build the IDENTICAL grid; no
    opaque binary like approx_count_distinct's). Spark builds per-DAY
    grids and rolls them up to weekly by cell-wise MAX
    (``sketch.hll_merge``) — the stored-daily-registers pattern that
    serves any rollup grain at 100 TB without rescanning rows — while
    the oracle builds the weekly grid directly from rows: their equality
    on the driver hash IS the HLL merge law. The harmonic sum is a sum
    of dyadic rationals spanning < 53 bits, hence bit-exact in any
    order; only the small-range ln() needs the 4-dp rounding, and the
    3-sigma accuracy band (m = 256 → ~6.5% standard error) compares the
    ROUNDED estimate on both engines (the r9 boundary lesson)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "user_id",
        )
    )
    daily = sketch.hll_registers(ev, "user_id", "week", "day")
    weekly = sketch.hll_merge(daily, "week")
    est = sketch.hll_estimate(weekly, "week")
    exact = ev.groupBy("week").agg(F.countDistinct("user_id").alias("n_exact"))
    est_r = fround(F.col("est_distinct"), 4)
    return exact.join(est, "week").select(
        "week",
        "n_exact",
        est_r.alias("est_distinct"),
        (F.abs(est_r / F.col("n_exact").cast("double") - 1.0) <= 0.2).alias("within_band"),
    )


# -- Bloom-filter join prefilter -------------------------------------------------------

_BLOOM_M, _BLOOM_K = 1024, 3


def _bloom_pos_oracle(item_sql: str, i: int) -> str:
    """DuckDB restatement of ``sketch._bloom_pos_sql`` — ONE definition for
    both Bloom certificates, so the md5-position formula can never drift
    between them and the operator."""
    return (
        f"('0x' || substr(md5(CAST({item_sql} AS VARCHAR) || '#{i}'), 1, 8))::BIGINT"
        f" % {_BLOOM_M}"
    )


BLOOM_PREFILTER_ORACLE = f"""
WITH keys AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 20 = 0
),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{", ".join(_bloom_pos_oracle("c_custkey", i) for i in range(_BLOOM_K))}]) AS pos
    FROM keys
  )
),
cand AS (
  SELECT o_orderpriority, o_custkey FROM orders
  WHERE {" AND ".join(f"({_bloom_pos_oracle('o_custkey', i)}) IN (SELECT pos FROM bits)" for i in range(_BLOOM_K))}
),
pri AS (SELECT DISTINCT o_orderpriority FROM orders),
nc AS (SELECT o_orderpriority, count(*) AS n FROM cand GROUP BY 1),
nt AS (
  SELECT o_orderpriority, count(*) AS n FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM keys) GROUP BY 1
),
nct AS (
  SELECT o_orderpriority, count(*) AS n FROM cand
  WHERE o_custkey IN (SELECT c_custkey FROM keys) GROUP BY 1
)
SELECT pri.o_orderpriority,
       CAST(coalesce(nc.n, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(nt.n, 0) AS BIGINT) AS n_true,
       coalesce(nct.n, 0) = coalesce(nt.n, 0) AS no_false_negatives
FROM pri
LEFT JOIN nc USING (o_orderpriority)
LEFT JOIN nt USING (o_orderpriority)
LEFT JOIN nct USING (o_orderpriority)
"""


@query(
    "bloom_prefilter_join",
    oracle=BLOOM_PREFILTER_ORACLE,
    description="Relational Bloom semi-join prefilter: 1024-bit filter probed broadcast-only; no-false-negative law",
)
def q_bloom_prefilter_join(spark, sf_dir):
    """The Bloom semi-join prefilter (NEW ``sketch.bloom_bits`` /
    ``bloom_probe``) — the pattern behind Spark's own runtime row-group
    bloom pushdown, expressed relationally so a SQL oracle can rebuild
    the filter bit-for-bit: the SMALL side (BUILDING customers, 1-in-20)
    sets k=3 md5-derived bits of a 1024-bit filter held as a ≤1024-row
    frame; the BIG side (orders) probes with three BROADCAST semi-joins —
    the big side never shuffles, which is the entire point at 100 TB
    (drop most non-matching rows before the real join pays its
    exchange). On the hash, per order priority: candidate count, exact
    match count, and the Bloom law that can never break — no member is
    ever filtered out (``n_candidates ≥ n_true`` with every true match
    surviving the probe). False positives pass by design and are caught
    by the exact join that follows in a real pipeline."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    keys = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 20 == 0)
    ).select("c_custkey")
    bits = sketch.bloom_bits(keys, "c_custkey", m_bits=_BLOOM_M, k=_BLOOM_K)

    cand = sketch.bloom_probe(orders, "o_custkey", bits, m_bits=_BLOOM_M, k=_BLOOM_K)
    keyed = keys.withColumnRenamed("c_custkey", "o_custkey")
    pri = orders.select("o_orderpriority").distinct()
    nc = cand.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("nc"))
    nt = (
        orders.join(F.broadcast(keyed), "o_custkey", "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("nt"))
    )
    nct = (
        cand.join(F.broadcast(keyed), "o_custkey", "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("nct"))
    )
    return (
        pri.join(nc, "o_orderpriority", "left")
        .join(nt, "o_orderpriority", "left")
        .join(nct, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            F.coalesce("nc", F.lit(0)).alias("n_candidates"),
            F.coalesce("nt", F.lit(0)).alias("n_true"),
            (F.coalesce("nct", F.lit(0)) == F.coalesce("nt", F.lit(0))).alias(
                "no_false_negatives"
            ),
        )
    )


# -- semi-supervised label propagation over the trade graph -----------------------------

_LP_ITERS = 2


# MATERIALIZED matters: DuckDB inlines plain CTEs, so the 4-way trade-
# graph join would be re-evaluated inside EVERY unrolled vote round —
# at sf0.1 that blew past 100 GB transient memory and minutes of wall
# (round-13 finding); materializing tr/sym once makes the oracle ~0.2 s.
_LP_EDGES_CTE = """
tr AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS id_a,
                  greatest(c.c_nationkey, s.s_nationkey) AS id_b
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM tr
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM tr
),
seeds AS (
  SELECT CAST(n_nationkey AS BIGINT) AS node, CAST(n_regionkey AS BIGINT) AS label
  FROM nation WHERE n_nationkey % 5 = 0
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM sym
    UNION ALL SELECT dst FROM sym
    UNION ALL SELECT node FROM seeds
  )
)
"""


def _label_prop_oracle() -> str:
    """Synchronous majority-vote label propagation unrolled as chained
    CTEs, mirroring ``graph.label_propagation`` round for round."""
    parts = [
        "WITH " + _LP_EDGES_CTE.strip(),
        "l0 AS (SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s USING (node))",
    ]
    prev = "l0"
    for i in range(1, _LP_ITERS + 1):
        parts.append(
            f"v{i} AS (SELECT e.dst AS node, p.label, count(*) AS c "
            f"FROM sym e JOIN {prev} p ON e.src = p.node "
            f"WHERE p.label IS NOT NULL GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label) AS rk FROM v{i}) WHERE rk = 1)"
        )
        parts.append(
            f"l{i} AS (SELECT p.node, coalesce(s.label, b.label, p.label) AS label "
            f"FROM {prev} p LEFT JOIN seeds s ON s.node = p.node "
            f"LEFT JOIN b{i} b ON b.node = p.node)"
        )
        prev = f"l{i}"
    return ",\n".join(parts) + f"\nSELECT node, label FROM {prev}"


LABEL_PROP_ORACLE = _label_prop_oracle()


@query(
    "label_prop_nations",
    oracle=LABEL_PROP_ORACLE,
    description="Label propagation over the trade graph: synchronous majority vote, seeds clamped, 2 rounds",
)
def q_label_prop_nations(spark, sf_dir):
    """Semi-supervised label propagation (NEW ``graph.label_propagation``)
    — the "one human label covers its neighborhood" pattern for corpus
    labeling, here over the undirected nation trade graph: a fifth of
    the nations are seeded with their region key; two synchronous
    rounds of majority vote (count DESC, label ASC tie-break) spread
    the labels, seeds stay clamped, unreached nodes stay NULL. Each
    round is ONE hash join of the label frame against the edge list +
    one combiner-friendly vote aggregate — O(E) per round, no
    broadcast-size assumption on the label model (it is per-node). The
    oracle unrolls both rounds as chained CTEs, so a drift in the vote
    rule, the tie-break, the clamping, or the symmetrization flips the
    hash."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("bigint").alias("id_a"),
            F.greatest("c_nationkey", "s_nationkey").cast("bigint").alias("id_b"),
        )
        .distinct()
    )
    seeds = nation.filter(F.col("n_nationkey") % 5 == 0).select(
        F.col("n_nationkey").cast("bigint").alias("node"),
        F.col("n_regionkey").cast("bigint").alias("label"),
    )
    return graph.label_propagation(edges, seeds)


# -- weighted label propagation ----------------------------------------------------------

_LPW_EDGES_CTE = """
tr AS MATERIALIZED (
  SELECT least(c.c_nationkey, s.s_nationkey) AS id_a,
         greatest(c.c_nationkey, s.s_nationkey) AS id_b,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst, w FROM tr
  UNION ALL
  SELECT id_b AS src, id_a AS dst, w FROM tr
),
seeds AS (
  SELECT CAST(n_nationkey AS BIGINT) AS node, CAST(n_regionkey AS BIGINT) AS label
  FROM nation WHERE n_nationkey % 5 = 0
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM sym
    UNION ALL SELECT dst FROM sym
    UNION ALL SELECT node FROM seeds
  )
)
"""


def _label_prop_weighted_oracle() -> str:
    parts = [
        "WITH " + _LPW_EDGES_CTE.strip(),
        "l0 AS (SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s USING (node))",
    ]
    prev = "l0"
    for i in range(1, _LP_ITERS + 1):
        parts.append(
            f"v{i} AS (SELECT e.dst AS node, p.label, sum(e.w) AS c "
            f"FROM sym e JOIN {prev} p ON e.src = p.node "
            f"WHERE p.label IS NOT NULL GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i} AS (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label) AS rk FROM v{i}) WHERE rk = 1)"
        )
        parts.append(
            f"l{i} AS (SELECT p.node, coalesce(s.label, b.label, p.label) AS label "
            f"FROM {prev} p LEFT JOIN seeds s ON s.node = p.node "
            f"LEFT JOIN b{i} b ON b.node = p.node)"
        )
        prev = f"l{i}"
    return ",\n".join(parts) + f"\nSELECT node, label FROM {prev}"


LABEL_PROP_WEIGHTED_ORACLE = _label_prop_weighted_oracle()


@query(
    "label_prop_weighted",
    oracle=LABEL_PROP_WEIGHTED_ORACLE,
    description="Weighted label propagation: integer trade-volume weight sums as votes, 2 unrolled rounds",
)
def q_label_prop_weighted(spark, sf_dir):
    """Weighted label propagation (``label_propagation(weight_col=...)``)
    — the vote is the SUM of edge weights, not the neighbor count, so a
    heavily-trading neighbor dominates a dozen one-off partners: the
    form real similarity graphs need (near-dup edges carry Jaccard
    scores, trade edges carry volumes). Weights here are integer
    lineitem counts per unordered nation pair, keeping the vote fully
    deterministic; same clamped seeds, same (weight DESC, label ASC)
    tie-break, same two unrolled oracle rounds — only the vote aggregate
    differs from the unweighted pair, which is exactly the drift the
    shared-structure oracle would catch."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").cast("bigint").alias("id_a"),
            F.greatest("c_nationkey", "s_nationkey").cast("bigint").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    seeds = nation.filter(F.col("n_nationkey") % 5 == 0).select(
        F.col("n_nationkey").cast("bigint").alias("node"),
        F.col("n_regionkey").cast("bigint").alias("label"),
    )
    return graph.label_propagation(edges, seeds, weight_col="w")


# -- HLL set algebra: week-over-week retention from registers alone ----------------------


def _hll_est_sql(reg_cte: str) -> str:
    """Estimate CTE body over a (week, bucket, reg) register CTE — the
    same pinned-literal formula as HLL_ROLLUP_ORACLE."""
    return (
        f"SELECT week, {_hll_case_sql('s', 'n')} AS e FROM ("
        f"SELECT week, sum(power(2.0, -reg)) AS s, CAST(count(*) AS DOUBLE) AS n "
        f"FROM {reg_cte} GROUP BY 1)"
    )


HLL_OVERLAP_ORACLE = f"""
WITH e AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT week,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
         regexp_replace(substr(md5(CAST(user_id AS VARCHAR)), 3, 8), '^0+', '') AS stripped
  FROM e
),
wk AS (
  SELECT week, bucket, max({_HLL_RHO_ORACLE}) AS reg
  FROM h GROUP BY 1, 2
),
pairs AS (
  SELECT a.week AS week, b.week AS week_next
  FROM (SELECT DISTINCT week FROM wk) a
  JOIN (SELECT DISTINCT week FROM wk) b ON b.week = a.week + 7
),
uni AS (
  SELECT p.week, r.bucket, max(r.reg) AS reg
  FROM pairs p JOIN wk r ON r.week = p.week OR r.week = p.week_next
  GROUP BY 1, 2
),
est_w AS ({_hll_est_sql("wk")}),
est_u AS ({_hll_est_sql("uni")}),
wu AS (SELECT DISTINCT week, user_id FROM e),
ex AS (
  SELECT p.week,
         (SELECT count(*) FROM wu x
          JOIN wu y ON y.user_id = x.user_id AND y.week = p.week_next
          WHERE x.week = p.week) AS n_inter,
         (SELECT count(*) FROM wu WHERE week = p.week) AS n_a,
         (SELECT count(*) FROM wu WHERE week = p.week_next) AS n_b
  FROM pairs p
)
SELECT p.week, p.week_next,
       CAST(ex.n_inter AS BIGINT) AS n_exact_inter,
       {sql_round("ea.e + eb.e - eu.e", 4)} AS est_inter,
       abs({sql_round("ea.e + eb.e - eu.e", 4)} - CAST(ex.n_inter AS DOUBLE))
         <= 0.3 * CAST(ex.n_a + ex.n_b - ex.n_inter AS DOUBLE) + 1.0 AS within_band
FROM pairs p
JOIN ex ON ex.week = p.week
JOIN est_w ea ON ea.week = p.week
JOIN est_w eb ON eb.week = p.week_next
JOIN est_u eu ON eu.week = p.week
"""


@query(
    "hll_week_overlap",
    oracle=HLL_OVERLAP_ORACLE,
    description="HLL set algebra: week-over-week retention via inclusion-exclusion over stored registers",
)
def q_hll_week_overlap(spark, sf_dir):
    """Sketch SET ALGEBRA — the question stored registers answer that a
    single count cannot: how many of week W's users RETURNED in week
    W+1, estimated WITHOUT rescanning either week's rows. Union
    registers are the cell-wise MAX merge of the two weekly grids (the
    same mergeability law the rollup pair certifies), and the
    intersection falls out by inclusion-exclusion: est_A + est_B −
    est_union. The exact intersection and a 0.3·|union|+1 accuracy band
    sit beside the estimate on the hash — the band is wide because
    inclusion-exclusion compounds three ~6.5%-error estimates, and both
    engines compute the SAME rounded values so the boolean is
    parity-stable by construction. The retention/decontamination-overlap
    pattern at 100 TB: keep daily or weekly registers, answer any
    overlap question from sketch algebra alone."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"), "user_id"
        )
    )
    wk = sketch.hll_registers(ev, "user_id", "week")
    weeks = wk.select("week").distinct()
    pairs = (
        weeks.alias("a")
        .join(
            weeks.alias("b"),
            F.col("b.week") == F.date_add(F.col("a.week"), 7),
        )
        .select(F.col("a.week").alias("week"), F.col("b.week").alias("week_next"))
    )
    ra = wk.join(F.broadcast(pairs.select("week")), "week")
    rb = (
        wk.withColumnRenamed("week", "week_next")
        .join(F.broadcast(pairs), "week_next")
        .select("week", "bucket", "reg")
    )
    uni = sketch.hll_merge(ra.unionByName(rb), "week")
    est_w = sketch.hll_estimate(wk, "week")
    est_u = sketch.hll_estimate(uni, "week").withColumnRenamed("est_distinct", "e_u")

    wu = ev.distinct()
    n_w = wu.groupBy("week").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        wu.alias("x")
        .join(
            wu.alias("y"),
            (F.col("y.user_id") == F.col("x.user_id"))
            & (F.col("y.week") == F.date_add(F.col("x.week"), 7)),
        )
        .groupBy(F.col("x.week").alias("week"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    out = (
        pairs.join(inter, "week", "left")
        .join(n_w.withColumnRenamed("n", "n_a"), "week")
        .join(
            n_w.withColumnRenamed("n", "n_b").withColumnRenamed("week", "week_next"),
            "week_next",
        )
        .join(est_w.withColumnRenamed("est_distinct", "e_a"), "week")
        .join(
            est_w.withColumnRenamed("est_distinct", "e_b").withColumnRenamed(
                "week", "week_next"
            ),
            "week_next",
        )
        .join(est_u, "week")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
    )
    est_i = fround(F.col("e_a") + F.col("e_b") - F.col("e_u"), 4)
    n_union = (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    return out.select(
        "week",
        "week_next",
        F.col("n_inter").alias("n_exact_inter"),
        est_i.alias("est_inter"),
        (F.abs(est_i - F.col("n_inter").cast("double")) <= F.lit(0.3) * n_union + F.lit(1.0)).alias(
            "within_band"
        ),
    )


# -- Bloom prefilter inside a real join pipeline -----------------------------------------

BLOOM_REVENUE_ORACLE = f"""
WITH keys AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0),
li AS (
  SELECT l_suppkey,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{", ".join(_bloom_pos_oracle("s_suppkey", i) for i in range(_BLOOM_K))}]) AS pos
    FROM keys
  )
),
cand AS (
  SELECT l_suppkey, cents FROM li
  WHERE {" AND ".join(f"({_bloom_pos_oracle('l_suppkey', i)}) IN (SELECT pos FROM bits)" for i in range(_BLOOM_K))}
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM li),
rev AS (
  SELECT l_suppkey AS s_suppkey,
         CAST(sum(cents) AS BIGINT) AS revenue_cents,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM li
  WHERE l_suppkey IN (SELECT s_suppkey FROM keys)
  GROUP BY 1
)
SELECT rev.s_suppkey, rev.revenue_cents, rev.n_rows, nc.n_cand, nt.n_total
FROM rev, nc, nt
"""


@query(
    "bloom_prefilter_revenue",
    oracle=BLOOM_REVENUE_ORACLE,
    description="Bloom prefilter inside a revenue join pipeline: broadcast bit-probe prunes lineitem before the exchange",
)
def q_bloom_prefilter_revenue(spark, sf_dir):
    """Per-supplier revenue for a target cohort (s_suppkey % 10 == 0),
    computed THROUGH the Bloom prefilter: the cohort's keys set k=3
    md5-derived bits of a 1024-bit relational filter, lineitem is probed
    by chained broadcast semi-joins (the chain pipelines inside one
    whole-stage-codegen pass over lineitem — no shuffle, no second
    scan), the exact broadcast semi-join against the cohort eliminates
    false positives, and only then does the aggregate pay its exchange —
    over the ~10% of rows that survived. The oracle computes revenue
    from the PLAIN exact join, so hash equality is the no-false-negative
    law applied to real money, per-row integer cents making the sums
    order-exact on both engines; n_cand/n_total (the filter is
    md5-derived, rebuilt bit-for-bit by the oracle) certify the
    reduction on the hash. The two 1-row count broadcasts are the
    allowlisted scalar-BNLJ shape."""
    supp = _t(spark, sf_dir, "supplier")
    keys = supp.filter(F.col("s_suppkey") % 10 == 0).select("s_suppkey")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + F.lit(0.5)
    ).cast("bigint")
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", cents.alias("cents"))

    bits = sketch.bloom_bits(keys, "s_suppkey", m_bits=_BLOOM_M, k=_BLOOM_K)
    cand = sketch.bloom_probe(li, "l_suppkey", bits, m_bits=_BLOOM_M, k=_BLOOM_K)
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_total = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    rev = (
        cand.join(
            F.broadcast(keys.withColumnRenamed("s_suppkey", "l_suppkey")),
            "l_suppkey",
            "semi",
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .withColumnRenamed("l_suppkey", "s_suppkey")
    )
    return rev.join(F.broadcast(n_cand)).join(F.broadcast(n_total)).select(
        "s_suppkey", "revenue_cents", "n_rows", "n_cand", "n_total"
    )


# -- HLL grid SERVING: one stored daily grid family, two question classes ----------------

def _hll_serving_oracle() -> str:
    return f"""
WITH e AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events WHERE user_id IS NOT NULL
),
h AS (
  SELECT week,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
         regexp_replace(substr(md5(CAST(user_id AS VARCHAR)), 3, 8), '^0+', '') AS stripped
  FROM e
),
wk AS (
  SELECT week, bucket, max({_HLL_RHO_ORACLE}) AS reg
  FROM h GROUP BY 1, 2
),
pairs AS (
  SELECT a.week AS week, b.week AS week_next
  FROM (SELECT DISTINCT week FROM wk) a
  JOIN (SELECT DISTINCT week FROM wk) b ON b.week = a.week + 7
),
uni AS (
  SELECT p.week, r.bucket, max(r.reg) AS reg
  FROM pairs p JOIN wk r ON r.week = p.week OR r.week = p.week_next
  GROUP BY 1, 2
),
est_w AS ({_hll_est_sql("wk")}),
est_u AS ({_hll_est_sql("uni")})
SELECT p.week, p.week_next,
       {sql_round("ea.e", 4)} AS est_distinct,
       {sql_round("eb.e", 4)} AS est_next_distinct,
       {sql_round("ea.e + eb.e - eu.e", 4)} AS est_retained
FROM pairs p
JOIN est_w ea ON ea.week = p.week
JOIN est_w eb ON eb.week = p.week_next
JOIN est_u eu ON eu.week = p.week
"""


@query(
    "hll_grid_serving",
    oracle=_hll_serving_oracle(),
    description="HLL serving layer: one stored daily register family answers weekly distinct AND retention, rows never rescanned",
)
def q_hll_grid_serving(spark, sf_dir):
    """The HLL SERVING-LAYER shape the two sibling certificates build
    toward: ONE stored grid family — per-(week, day) registers, the form
    a production pipeline persists — serves BOTH question classes in one
    query with zero row rescans: weekly distinct counts (daily grids
    max-merged to weekly, the rollup law) AND week-over-week retention
    (inclusion-exclusion over the max-merged union of adjacent weekly
    grids, the set-algebra law). The oracle rebuilds weekly registers
    directly from rows, so the hash simultaneously re-certifies the
    merge law (daily→weekly == direct) and the serving arithmetic. At
    100 TB this is the whole point of the register representation: the
    grids are a few KB per grain, the rows are never touched again."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "user_id",
        )
    )
    daily = sketch.hll_registers(ev, "user_id", "week", "day")  # the STORED family
    wk = sketch.hll_merge(daily, "week")
    weeks = wk.select("week").distinct()
    pairs = (
        weeks.alias("a")
        .join(weeks.alias("b"), F.col("b.week") == F.date_add(F.col("a.week"), 7))
        .select(F.col("a.week").alias("week"), F.col("b.week").alias("week_next"))
    )
    ra = wk.join(F.broadcast(pairs.select("week")), "week")
    rb = (
        wk.withColumnRenamed("week", "week_next")
        .join(F.broadcast(pairs), "week_next")
        .select("week", "bucket", "reg")
    )
    uni = sketch.hll_merge(ra.unionByName(rb), "week")
    est_w = sketch.hll_estimate(wk, "week")
    est_u = sketch.hll_estimate(uni, "week").withColumnRenamed("est_distinct", "e_u")
    ea = F.col("e_a")
    eb = F.col("e_b")
    return (
        pairs.join(est_w.withColumnRenamed("est_distinct", "e_a"), "week")
        .join(
            est_w.withColumnRenamed("est_distinct", "e_b").withColumnRenamed(
                "week", "week_next"
            ),
            "week_next",
        )
        .join(est_u, "week")
        .select(
            "week",
            "week_next",
            fround(ea, 4).alias("est_distinct"),
            fround(eb, 4).alias("est_next_distinct"),
            fround(ea + eb - F.col("e_u"), 4).alias("est_retained"),
        )
    )
