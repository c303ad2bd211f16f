"""Round-10 registry additions: (PySpark fn, DuckDB oracle) pairs.
``txtable_incremental_minmax`` entered the round-9 window a round early
(VERDICT r8 directive 4 — the bounded-state MIN/MAX maintenance deserved
driver evidence, and its broadcast-size guard landed first); the
remaining 15 pairs were registered in round 10.

Coverage targets:
  * ``oplist_replay`` — the §2.12 record/replay surface under a driver
    hash for the first time: a four-op QC plan is SAVED to JSON, loaded
    back off disk, compiled onto the DataValues frame by
    ``plans.oplist.apply_plan`` (threshold selection → composed
    value-change selection → arithmetic update → flag), and the edited
    frame is returned. The oracle restates the composed plan as one SQL
    expression — a drift in any op's semantics, the compose rule, or the
    JSON round-trip flips the hash. (Reference: the recorded-script
    mechanism ``record_service.py:14-176`` + JSON job specs
    ``Common.py:46-58``.)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from h2outility_spark.plans import oplist
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.streaming.incremental import drain_available_now
from h2outility_spark.workload import DV_CTE, _dv, _t, fround, query
from h2outility_spark.workload_lakehouse import scratch_dir

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


# -- streaming OHLC: ordered-aggregate state under append mode ------------------

#: Same event-time split + flush-sentinel machinery as the certified
#: stream_watermark_windows (workload_next3): everything before the cut is
#: micro-batch 1, the rest micro-batch 2, and a far-future sentinel
#: advances the watermark past every real window so append mode flushes
#: them all.
_OHLC_CUT = "2024-01-03 00:00:00"
_OHLC_FLUSH = "2030-01-01 00:00:00"

STREAM_OHLC_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       floor((first(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS open,
       floor((max(value)) * 100.0 + 0.5) / 100.0 AS high,
       floor((min(value)) * 100.0 + 0.5) / 100.0 AS low,
       floor((last(value ORDER BY ts, event_id)) * 100.0 + 0.5) / 100.0 AS close,
       CAST(count(*) AS BIGINT) AS n_obs
FROM events
GROUP BY 1, 2
"""


@query(
    "stream_ohlc",
    oracle=STREAM_OHLC_ORACLE,
    description="streaming hourly OHLC: ordered-aggregate (argmin/argmax) state across micro-batches",
)
def q_stream_ohlc(spark, sf_dir):
    """Streaming twin of ``series_ohlc``: hourly OHLC per event type
    maintained by a WATERMARKED streaming aggregation whose open/close
    are ORDERED aggregates (min_by/max_by over a (ts, event_id) struct) —
    the state store must carry the argmin/argmax pair per open window
    across micro-batch boundaries, a strictly richer state shape than the
    certified count/sum windows. Two real micro-batches + the flush
    sentinel, drained with ``Trigger.AvailableNow`` against one
    checkpoint; the sentinel's window is filtered back out. State is
    O(open windows × types), never O(events)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value", "event_id")
    src = scratch_dir("h2ou_sohlc_src_")
    out = scratch_dir("h2ou_sohlc_out_") + "/out"
    ckpt = scratch_dir("h2ou_sohlc_ckpt_") + "/ckpt"
    cut = F.lit(_OHLC_CUT).cast("timestamp")
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("event_id", LongType()),
        ]
    )

    order_key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            fround(F.min_by(F.col("value"), order_key), 2).alias("open"),
            fround(F.max("value"), 2).alias("high"),
            fround(F.min("value"), 2).alias("low"),
            fround(F.max_by(F.col("value"), order_key), 2).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(F.col("win.start").alias("hour_start"), "event_type", "open", "high", "low", "close", "n_obs")
    )

    # coalesce(1): one file per drain -> one micro-batch per drain
    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)
    spark.createDataFrame(
        [(_OHLC_FLUSH, "__flush__", 0.0, 0)], "ts string, event_type string, value double, event_id long"
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value", "event_id"
    ).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(agg, ckpt, out)

    return (
        read_parquet(spark, out)
        .filter(F.col("event_type") != "__flush__")
        .select("hour_start", "event_type", "open", "high", "low", "close", "n_obs")
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


# -- MIN/MAX incremental maintenance (the non-self-maintainable aggregates) -----

TXTABLE_MINMAX_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 < 8
),
upd AS (
  SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 500 AS cents
  FROM orders WHERE o_orderkey % 4 = 0
),
final AS (
  SELECT * FROM upd
  UNION ALL
  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
)
SELECT cust_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM final GROUP BY cust_bucket
"""


@query(
    "txtable_incremental_minmax",
    oracle=TXTABLE_MINMAX_ORACLE,
    description="sound bounded MIN/MAX IVM off the CDF: kept-k state, horizon-gated admission, survivors-triggered targeted rescan",
)
def q_txtable_incremental_minmax(spark, sf_dir):
    """MIN/MAX under deletes — the aggregates plain IVM cannot maintain —
    advanced from the CDF with BOUNDED per-key state (k=2 smallest +
    largest kept per bucket, ``ivm.minmax_state``): a deleted kept value
    falls out of the multiset, a deleted beyond-horizon value vanishes
    without effect, and a bucket whose kept set empties is rebuilt by the
    TARGETED rescan (semi-join on exactly those buckets against the post-
    merge snapshot — never a full recompute). k=2 is chosen deliberately
    small so the merge's delete+insert pairs exercise the rescan path on
    real data. The oracle recomputes min/max/count from the final state —
    any drift in the kept-set algebra or the rescan targeting flips the
    hash."""
    from h2outility_spark.operators import ivm
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_ivmmm_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    old_state = ivm.minmax_state(t.snapshot(v1), ["cust_bucket"], "cents", k=2)
    v2 = t.merge_upsert(upd)
    new_state = ivm.maintain_grouped_minmax(
        old_state, t.changes(v1, v2), t.snapshot(v2), ["cust_bucket"], "cents", k=2
    )
    return new_state.select(
        "cust_bucket",
        F.col("n").alias("n_orders"),
        F.element_at("kmin", 1).alias("min_cents"),
        F.element_at("kmax", 1).alias("max_cents"),
    )


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
    from h2outility_spark.workload import sql_round

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
    redistributed uniformly. ``edges`` is (src, dst, w) — pre-cache it;
    ``nodes`` is a single ``node`` column. The Spark side stays
    op-for-op identical to the unrolled-CTE oracle text
    (``_pagerank_oracle``)."""
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow")).cache()
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

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .cache()
    )
    ranks = _pagerank_loop(edges, nation, float(nation.count()))
    return ranks.select("node", fround(F.col("r"), 6).alias("rank"))


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


# -- auto-sized RP-LSH signatures: the width DERIVATION on the hash --------------

RP_AUTOSIG_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nb AS (
  SELECT greatest(1, CAST(ceil(log2(greatest(2.0, count(*) / 32.0))) AS INT)) AS bits
  FROM e
),
planes AS (
  -- range() args must be constants, so enumerate a superset of plane ids
  -- (32 bits x 32 bands = 1024 covers any realistic derived width) and
  -- filter to the derived count
  SELECT CAST(j.range AS INT) AS j, CAST(d.range AS INT) AS d,
         ('0x' || substr(md5('h' || CAST(j.range AS VARCHAR) || '_' || CAST(d.range AS VARCHAR)), 1, 2))::BIGINT - 127.5 AS p
  FROM range(1024) j CROSS JOIN range(64) d
  WHERE j.range < (SELECT bits FROM nb) * 32
),
dots AS (
  SELECT e.vec_id, planes.j, sum(e.v[planes.d + 1] * planes.p) AS dot
  FROM e, planes
  GROUP BY e.vec_id, planes.j
)
SELECT vec_id,
       string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS rp_sig,
       (SELECT bits FROM nb) AS n_bits
FROM dots GROUP BY vec_id
"""


@query(
    "rp_lsh_autosig",
    oracle=RP_AUTOSIG_ORACLE,
    description="auto-sized RP-LSH signatures: the oracle re-derives the md5 hyperplanes AND the width in SQL",
)
def q_rp_lsh_autosig(spark, sf_dir):
    """The RP-LSH auto-sizing contract certified cross-engine: the band
    width is DERIVED from the corpus size (``auto_n_bits`` —
    ceil(log2(n/32)), so the derived width differs at every test scale)
    and every sign bit of every signature at that width rides the hash.
    The oracle recomputes the md5-derived hyperplanes IN SQL and re-derives
    the width from its own count(*) — a drift in the derivation formula,
    the plane constants, or the sign arithmetic at ANY scale flips the
    hash. Sign decisions are far from zero (plane components O(100), data
    O(1)), so summation order cannot flip a bit."""
    from h2outility_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    bits = similarity.auto_n_bits(n, target_bucket=32)
    sigs = similarity.rp_lsh_signatures(emb, n_planes=bits * 32, dim=64)
    return sigs.select("vec_id", "rp_sig", F.lit(bits).cast("int").alias("n_bits"))


# -- snapshot-isolation reader racing a writer -----------------------------------

READER_ISOLATION_ORACLE = """
SELECT o_orderkey, o_custkey % 50 AS cust_bucket,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
FROM orders WHERE o_orderkey % 10 < 8
"""


@query(
    "txtable_reader_isolation",
    oracle=READER_ISOLATION_ORACLE,
    description="snapshot isolation race: pinned v1 reader materializes WHILE a writer merges + compacts",
)
def q_txtable_reader_isolation(spark, sf_dir):
    """Snapshot isolation under a real race: a reader pins version v1,
    then MATERIALIZES it while a concurrent writer thread merges an
    upsert batch AND compacts the table (both create new versions and
    rewrite files). The pinned read must return exactly v1's content no
    matter how the interleaving lands — copy-on-write means old files
    stay on disk until vacuum, and the v1 manifest is immutable. The
    oracle states v1 algebraically; any torn read, manifest mutation, or
    premature file reuse flips the hash."""
    import threading

    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_riso_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    pinned = t.snapshot(v1).cache()

    errs: list[Exception] = []

    def writer() -> None:
        try:
            t.merge_upsert(upd)
            t.compact_files()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = threading.Thread(target=writer)
    th.start()
    # materialize the pinned snapshot WHILE the writer commits new versions
    n_pinned = pinned.count()
    th.join()
    assert not errs, errs
    assert n_pinned > 0
    return pinned.select("o_orderkey", "cust_bucket", "cents")


# -- bucketed co-located join ------------------------------------------------------

#: (session, table_name) pairs pending a best-effort DROP at interpreter
#: exit. ONE atexit handler drains the whole list — per-invocation
#: registration accumulated a handler per call for the life of the
#: session (ADVICE r10).
_BUCKETED_TABLES: list = []
_BUCKETED_ATEXIT_ARMED = False


def _register_bucketed_tables(spark, *names) -> None:
    global _BUCKETED_ATEXIT_ARMED
    _BUCKETED_TABLES.extend((spark, n) for n in names)
    if not _BUCKETED_ATEXIT_ARMED:
        import atexit

        def _drain():
            for session, n in _BUCKETED_TABLES:
                try:
                    session.sql(f"DROP TABLE IF EXISTS {n}")
                except Exception:  # noqa: BLE001 — session may already be stopped
                    pass
            _BUCKETED_TABLES.clear()

        atexit.register(_drain)
        _BUCKETED_ATEXIT_ARMED = True


BUCKETED_JOIN_ORACLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query(
    "bucketed_join_orders",
    oracle=BUCKETED_JOIN_ORACLE,
    description="bucketed co-located fact-dim join: 8 buckets, exchange-free sort-merge plan",
)
def q_bucketed_join_orders(spark, sf_dir):
    """The co-located join the 100 TB plan wants: both sides are written
    BUCKETED on the join key (8 buckets, sorted), so the fact-dim join
    runs bucket-to-bucket with NO exchange on either side — the shuffle
    is paid once at layout time and amortized over every subsequent
    join, which is exactly how a 100 TB fact table should meet its
    high-cardinality dims (pytest pins the no-Exchange plan; the driver
    hash certifies the result). The tiny post-join rollup is the only
    shuffle left."""
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", cents.alias("cents"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    # Per-invocation table names (derived from the scratch dir's unique
    # suffix): fixed session-global names raced under interleaved
    # invocations — the sf0.001 parity run, the sf0.01 driver run, and the
    # plan-audit all call this fn in one session, and the returned frame
    # resolves its table names LAZILY (ADVICE r9). Unique names make each
    # invocation self-contained; a single module-level atexit hook drains
    # the accumulated name list at interpreter exit (ADVICE r10: one
    # registered handler, not one per invocation) without breaking the
    # late driver collect.
    base = scratch_dir("h2ou_bkt_")
    tag = os.path.basename(base).replace("h2ou_bkt_", "").replace("-", "_")
    t_orders, t_cust = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    _register_bucketed_tables(spark, t_orders, t_cust)
    (
        orders.write.format("parquet")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", base + "/orders")
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        cust.write.format("parquet")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", base + "/customer")
        .mode("overwrite")
        .saveAsTable(t_cust)
    )
    j = spark.table(t_orders).join(
        spark.table(t_cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    )


# -- S1 federated three-source union ----------------------------------------------

FEDERATED_UNION_ORACLE = """
SELECT event_id AS value_id, ts AS local_dt, value AS data_value
FROM events
"""


@query(
    "federated_union",
    oracle=FEDERATED_UNION_ORACLE,
    description="S1 multi-source federation: CSV + embedded-Derby JDBC + parquet three-way union",
)
def q_federated_union(spark, sf_dir):
    """The S1 multi-dialect story on ONE hash: the same logical table is
    split three ways and round-tripped through three different source
    formats — a header CSV export (microsecond timestampFormat), a Derby
    JDBC table, and native parquet — then unioned back. A row lost or
    mangled by ANY format's writer/reader (timestamp truncation, double
    formatting, JDBC type mapping) flips the hash. At 100 TB this is the
    federation shape: per-source scans stay pushdown-friendly and the
    union is a zero-shuffle concatenation."""
    from pyspark.sql import types as T

    from h2outility_spark.sinks.jdbc_sink import append_jdbc
    from h2outility_spark.sources.parquet import load_jdbc

    sel = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("value_id"),
        F.col("ts").alias("local_dt"),
        F.col("value").alias("data_value"),
    )
    csv_part = sel.filter(F.col("value_id") % 3 == 0)
    jdbc_part = sel.filter(F.col("value_id") % 3 == 1)
    pq_part = sel.filter(F.col("value_id") % 3 == 2)

    csv_dir = scratch_dir("h2ou_fedcsv_") + "/rows"
    (
        csv_part.write.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csv_dir)
    )
    url = f"jdbc:derby:{scratch_dir('h2ou_fedjdbc_')}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    append_jdbc(jdbc_part, url, "fed_values", properties=props, num_partitions=2)

    schema = T.StructType(
        [
            T.StructField("value_id", T.LongType()),
            T.StructField("local_dt", T.TimestampType()),
            T.StructField("data_value", T.DoubleType()),
        ]
    )
    csv_back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csv_dir)
    )
    jdbc_back = load_jdbc(spark, url, "fed_values", properties=props)
    return csv_back.unionByName(jdbc_back).unionByName(pq_part)


# -- streaming ingestion maintaining a materialized view (IVM composition) --------

STREAM_IVM_ORACLE = """
SELECT o_custkey % 50 AS cust_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY 1
"""


@query(
    "stream_ivm_agg",
    oracle=STREAM_IVM_ORACLE,
    description="foreachBatch advancing a TxTable-materialized (count,sum) view — touched-buckets-only merges",
)
def q_stream_ivm_agg(spark, sf_dir):
    """The production composition: a STREAM ingests micro-batches and a
    TxTable-materialized (count, sum) view is advanced incrementally per
    batch — ``foreachBatch`` treats each micro-batch as an insert-only
    change feed for ``ivm.maintain_grouped_agg`` and upserts ONLY the
    touched buckets back through the transactional merge. Nothing ever
    recomputes from scratch and no batch is double-applied (the oracle is
    the from-scratch aggregate of the full table, in integer cents, so
    any drop/double-apply flips the hash). State per batch is O(changed
    buckets); the view lives in the lakehouse, not driver memory.

    Honesty note: ``foreachBatch`` is at-least-once — a crash between the
    merge commit and the checkpoint write would replay the batch on
    restart. A production deployment makes the merge idempotent by
    recording the last-applied batch_id in the view table and skipping
    replays; the drained-to-completion runs here never replay, so the
    hash certifies the maintenance algebra, not that recovery path."""
    from h2outility_spark.operators import ivm
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    sel = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    src = scratch_dir("h2ou_sivm_src_")
    ckpt = scratch_dir("h2ou_sivm_ckpt_") + "/ckpt"
    view = TxTable(spark, scratch_dir("h2ou_sivm_view_") + "/t", key_cols=["cust_bucket"])
    state = {"initialized": False}

    def handle(batch_df, _batch_id) -> None:
        if not state["initialized"]:
            view.append(
                ivm.aggregate_state(batch_df, ["cust_bucket"], "cents", "n_orders", "total_cents")
            )
            state["initialized"] = True
            return
        changes = batch_df.withColumn("_change_type", F.lit("insert"))
        new_view = ivm.maintain_grouped_agg(
            view.snapshot(), changes, ["cust_bucket"], "cents", "n_orders", "total_cents"
        )
        touched = changes.select("cust_bucket").distinct()
        view.merge_upsert(new_view.join(touched, ["cust_bucket"], "left_semi"))

    stream = spark.readStream.schema(sel.schema).format("parquet").load(src)

    sel.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(stream, ckpt, handle)
    sel.filter(F.col("o_orderkey") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(stream, ckpt, handle)
    return view.snapshot().select("cust_bucket", "n_orders", "total_cents")


# -- streaming twin of the sliding-window chunker ----------------------------------

from h2outility_spark.workload_next4 import (  # noqa: E402
    _CHUNK_SIZE,
    _CHUNK_STRIDE,
    CHUNK_SLIDING_ORACLE,
)

STREAM_CHUNK_ORACLE = CHUNK_SLIDING_ORACLE


@query(
    "stream_chunk_flow",
    oracle=STREAM_CHUNK_ORACLE,
    description="streaming twin of the sliding-window RAG chunker: stateless flatMap under AvailableNow",
)
def q_stream_chunk_flow(spark, sf_dir):
    """Streaming twin of ``chunk_sliding``: the RAG chunker applied to a
    document STREAM — two micro-batches drained through one checkpoint,
    each document chunked exactly once (stateless narrow transform, so
    streaming adds no state at all; exactly-once comes from the source
    tracking + append sink). Output is byte-identical to the certified
    batch chunking — the same oracle proves it."""
    from h2outility_spark.operators import text as T

    docs = _t(spark, sf_dir, "documents")
    src = scratch_dir("h2ou_schunk_src_")
    out = scratch_dir("h2ou_schunk_out_") + "/out"
    ckpt = scratch_dir("h2ou_schunk_ckpt_") + "/ckpt"

    chunks = T.chunk_sliding(
        spark.readStream.schema(docs.schema).format("parquet").load(src),
        size=_CHUNK_SIZE,
        stride=_CHUNK_STRIDE,
    )

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(chunks, ckpt, out)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    drain_available_now(chunks, ckpt, out)
    return read_parquet(spark, out)


# -- vacuum retention guard under a pinned reader ----------------------------------

VACUUM_RETENTION_ORACLE = READER_ISOLATION_ORACLE


@query(
    "txtable_vacuum_retention",
    oracle=VACUUM_RETENTION_ORACLE,
    description="vacuum must refuse to reclaim files inside the retention window while a pinned reader holds v1",
)
def q_txtable_vacuum_retention(spark, sf_dir):
    """The GC-safety contract on a hash: a reader pins v1, a writer
    merges (making v1's files logically dead) and then VACUUMS — but
    every dead file is younger than the retention window, so vacuum must
    refuse to reclaim it and the pinned v1 read must still see whole
    files. If vacuum ignored retention (or retention bookkeeping used
    the wrong timestamp), the pinned scan would lose rows or die on a
    missing file — either flips the hash. This is the invariant that
    makes long-running 100 TB readers safe to run concurrently with
    compaction + GC."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    t = TxTable(spark, scratch_dir("h2ou_vret_") + "/t", key_cols=["o_orderkey"])
    v1 = t.append(base)
    pinned = t.snapshot(v1)
    t.merge_upsert(upd)
    # keep_versions=1 would allow reclaiming v1's dead files — only the
    # age-based retention window protects the pinned reader here
    removed = t.vacuum(keep_versions=1, retention_seconds=3600.0)
    assert removed == [], f"vacuum reclaimed inside the retention window: {removed}"
    return pinned.select("o_orderkey", "cust_bucket", "cents")


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


# -- the full production loop: stream -> lakehouse -> CDF -> MIN/MAX IVM ----------

STREAM_MINMAX_ORACLE = TXTABLE_MINMAX_ORACLE


@query(
    "stream_minmax_ivm",
    oracle=STREAM_MINMAX_ORACLE,
    description="full production loop: stream → merge_upsert → CDF → bounded MIN/MAX IVM per micro-batch",
)
def q_stream_minmax_ivm(spark, sf_dir):
    """The complete incremental pipeline on one hash: a STREAM of upsert
    batches lands in a TxTable through ``foreachBatch`` + merge_upsert,
    and after every commit the bounded MIN/MAX view state is advanced
    from that commit's CHANGE FEED ONLY (``t.changes(v_prev, v_new)`` →
    ``ivm.maintain_grouped_minmax`` with k=2, so the merge's
    delete+insert pairs exercise the horizon/rescan algebra on real
    data). The maintained state is materialized per batch and the final
    batch's state is returned; the oracle recomputes min/max/count from
    the final table — a drift anywhere in the stream→merge→CDF→maintain
    chain flips the hash. This is the shape a 100 TB live view runs:
    per-batch cost O(changes) + the targeted-rescan tail, never
    O(table)."""
    from h2outility_spark.operators import ivm
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("cust_bucket"),
        cents.alias("cents"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    upd = orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
        "cents", F.col("cents") + F.lit(500)
    )

    src = scratch_dir("h2ou_smm_src_")
    ckpt = scratch_dir("h2ou_smm_ckpt_") + "/ckpt"
    state_dir = scratch_dir("h2ou_smm_state_")
    t = TxTable(spark, scratch_dir("h2ou_smm_tbl_") + "/t", key_cols=["o_orderkey"])
    ctl: dict = {"version": None, "state_path": None, "n_batches": 0}

    def handle(batch_df, batch_id) -> None:
        if ctl["version"] is None:
            v = t.append(batch_df)
            state = ivm.minmax_state(t.snapshot(v), ["cust_bucket"], "cents", k=2)
        else:
            v_prev = ctl["version"]
            v = t.merge_upsert(batch_df)
            old_state = read_parquet(spark, ctl["state_path"])
            # The caller KNOWS the key domain (cust_bucket in [0, 50)), so the
            # broadcast guard's per-batch distinct-count job is skipped via the
            # n_changed_keys hint — in a per-micro-batch loop that extra Spark
            # job would otherwise run on every commit (ADVICE r9 / VERDICT r9 #2).
            state = ivm.maintain_grouped_minmax(
                old_state,
                t.changes(v_prev, v),
                t.snapshot(v),
                ["cust_bucket"],
                "cents",
                k=2,
                n_changed_keys=50,
            )
        path = os.path.join(state_dir, f"state_v{v}")
        state.write.mode("overwrite").parquet(path)
        ctl["version"] = v
        ctl["state_path"] = path
        ctl["n_batches"] += 1

    stream = spark.readStream.schema(base.schema).format("parquet").load(src)

    base.coalesce(1).write.mode("append").parquet(src)
    drain_available_now(stream, ckpt, handle)
    upd.coalesce(1).write.mode("append").parquet(src)
    drain_available_now(stream, ckpt, handle)
    assert ctl["n_batches"] == 2, ctl

    final = read_parquet(spark, ctl["state_path"])
    return final.select(
        "cust_bucket",
        F.col("n").alias("n_orders"),
        F.element_at("kmin", 1).alias("min_cents"),
        F.element_at("kmax", 1).alias("max_cents"),
    )
