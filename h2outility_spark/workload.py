"""Query workload registry — one entry per implemented operator from
SURVEY.md §2, each carrying BOTH the PySpark implementation and (where the
semantics are SQL-expressible) the equivalent ANSI SQL string for the DuckDB
oracle.

Keeping the pair in one place is the whole design: the driver's correctness
gate (CORRECTNESS_r{N}.json) compares the two at sf0.01 by row count, schema
and order-insensitive value hash, so the Spark code and the SQL must agree on
column NAMES and rounded values. Conventions that make the hashes stable:

  * every float aggregate / derived float is rounded (2 or 4 dp) on BOTH
    sides — sums over doubles differ in the last ulp between engines
    depending on accumulation order;
  * time arithmetic is integer microseconds (`unix_micros` / `epoch_us`) —
    exact on both sides;
  * every computed column is aliased identically on both sides;
  * session timezone pinned to UTC (the parquet timestamps are UTC instants;
    DuckDB reads them naive-UTC).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from h2outility_spark.functions import fround, season
from h2outility_spark.operators import qc
from h2outility_spark.operators.catalog import derive_catalog
from h2outility_spark.operators.extract import build_predicate
from h2outility_spark.operators.reshape import fill_no_data, pivot_column_names, pivot_wide
from h2outility_spark.schema import EVENTS_AS_DATAVALUES_SQL, events_as_datavalues
from h2outility_spark.session import ensure_utc
from h2outility_spark.sources.parquet import load_table


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    description: str = ""
    bench: bool = False  # include in bench.py's headline set


REGISTRY: dict[str, QuerySpec] = {}


def sql_round(expr: str, n: int = 2) -> str:
    factor = "1" + "0" * n + ".0"
    return f"floor(({expr}) * {factor} + 0.5) / {factor}"


def query(name: str, oracle: str | None = None, description: str = "", bench: bool = False):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_utc(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(wrapped, oracle, description, bench)
        return wrapped

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _dv(spark, sf_dir):
    return events_as_datavalues(_t(spark, sf_dir, "events"))


# SQL CTE prefix mapping events onto the DataValues shape (kept in schema.py
# right next to the PySpark mapping so they cannot drift).
DV_CTE = f"WITH dv AS ({EVENTS_AS_DATAVALUES_SQL})"


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
# TPC-H style analytics (G/J/O families at scale)
# ---------------------------------------------------------------------------

@query(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
           floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
           floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100.0 + 0.5) / 100.0 AS sum_charge,
           floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
           floor((avg(l_discount)) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="G1-family: TPC-H Q1 pricing summary (8 aggregates, 2 group keys)",
    bench=True,
)
def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        fround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        fround(F.sum(disc_price), 2).alias("sum_disc_price"),
        fround(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        fround(F.avg("l_quantity"), 4).alias("avg_qty"),
        fround(F.avg("l_extendedprice"), 4).alias("avg_price"),
        fround(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    description="J1: TPC-H Q3 shipping-priority (fact-dim joins + top-k)",
    bench=True,
)
def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15 00:00:00"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15 00:00:00"))
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           floor((sum(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    description="J1/J5: TPC-H Q5 multi-way broadcast star join, revenue by nation",
    bench=True,
)
def q_tpch_q5(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00")) & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "tpch_q6",
    oracle="""
    SELECT floor((sum(l_extendedprice * l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="P3/P4 + scalar agg: TPC-H Q6 forecast revenue",
)
def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(fround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Joins beyond inner (J3 semi, U2-style anti), top-k (O4/O5)
# ---------------------------------------------------------------------------

@query(
    "semi_join_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s_suppkey
                    AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    description="J3: left-semi join (suppliers with recent shipments)",
)
def q_semi_join_suppliers(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00"))
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


@query(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
    description="U2-analog: left-anti join (customers with no recent orders)",
)
def q_anti_join_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00"))
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


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


@query(
    "dedup_keep_first",
    oracle="""
    SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity
    FROM (SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity,
                 row_number() OVER (PARTITION BY l_partkey, l_suppkey
                                    ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
    description="U5-analog: deterministic exact dedup (keep first row per logical key)",
)
def q_dedup_keep_first(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_partkey", "l_suppkey").orderBy("l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
    )


# Register the other workload families (import side-effect; these modules
# import back from this one, which is safe because everything they need is
# defined above this line).
from h2outility_spark import workload_qc  # noqa: E402,F401
from h2outility_spark import workload_text  # noqa: E402,F401
from h2outility_spark import workload_ext  # noqa: E402,F401
from h2outility_spark import workload_tpch  # noqa: E402,F401
from h2outility_spark import workload_next  # noqa: E402,F401
from h2outility_spark import workload_media  # noqa: E402,F401
from h2outility_spark import workload_lakehouse  # noqa: E402,F401
from h2outility_spark import workload_streaming  # noqa: E402,F401
from h2outility_spark import workload_next2  # noqa: E402,F401
from h2outility_spark import workload_next3  # noqa: E402,F401
from h2outility_spark import workload_sinks  # noqa: E402,F401
from h2outility_spark import workload_next4  # noqa: E402,F401
from h2outility_spark import workload_next5  # noqa: E402,F401
from h2outility_spark import workload_next6  # noqa: E402,F401
from h2outility_spark import workload_next7  # noqa: E402,F401
from h2outility_spark import workload_next8  # noqa: E402,F401
from h2outility_spark import workload_next9  # noqa: E402,F401


# The driver's correctness gate hashes only the FIRST 50 registered queries.
# This list makes that window a deliberate choice instead of an import-order
# accident.
#
# ROUND-4 ROTATION: rounds 1-3 proved 64 of the 98 registered queries with
# green driver rows (r1: the original 50; r3: the curated §2+LLM window).
# This round keeps a 16-query sentinel core — the §2 flagships plus one
# representative per family whose regression would be most damaging — and
# fills the other 34 slots with every query that has NEVER had a driver
# CORRECTNESS row in any round (verified against CORRECTNESS_r01-r03):
# all later TPC-H adaptations, the rolling-QC trio, funnel/retention,
# grouping-sets/cube, JSON-props, and the remaining LLM-pipeline ops.
# After r4, every registered query has >=1 green driver row across rounds
# (coverage map in README). Everything outside the window is still
# oracle-checked every run by tests/test_oracle_parity.py + driver_sim.
CHECKED_WINDOW = [
    # -- ROUND-16 ROTATION --------------------------------------------------
    # CORRECTNESS_r15 went 50/50 green. The window carries the 31 FORCED
    # r11-latest picks (the 4-round freshness gate in
    # tests/test_checked_window.py; NOTES_NEXT_ROUND lists them) and 19 free
    # picks, all riding the read path this round changed: table loads and
    # parquet read-backs now take their schema from the parquet footer
    # (sources.parquet.read_parquet) instead of a schema-inference job. The
    # free picks are the 8 queries of the benchmark's query_mix and 11 of
    # the queries that read back a streaming sink or a partitioned write.
    # Everything outside the window stays oracle-checked every run by
    # tests/test_oracle_parity + driver_sim.
    # -- the 31 forced r11-latest picks (freshness gate) ---------------------
    "annotated_export_roundtrip",
    "asof_interp_join",
    "asof_join_forward",
    "cdc_segment_dedup",
    "distinct_series",
    "embedding_quantize_error",
    "event_time_windows",
    "frame_sample",
    "funnel_conversion",
    "grouping_sets_revenue",
    "heavy_hitters_cms",
    "image_resize_features",
    "last_per_series",
    "mixture_plan_tokens",
    "mixture_sample",
    "neardup_embedding_pairs",
    "ngram_counts",
    "qc_flag",
    "quality_drift_weekly",
    "repetition_signals",
    "retention_cohorts",
    "rollup_revenue",
    "season_rollup",
    "secondary_sort_export",
    "semi_join_suppliers",
    "stratified_split",
    "stream_mixture_plan",       # read-back rider: footer-schema state read
    "txtable_zorder_race",
    "variable_census",
    "vocab_oov_rate",
    "winnow_fingerprints",
    # -- query_mix: every table load reads its footer schema -----------------
    "asof_join",
    "embedding_knn",
    "tpch_q3",
    "tpch_q5",
    "text_stats",
    "series_ohlc",
    "sessionization",
    "dedup_exact_docs",
    # -- sink read-backs through the footer schema --------------------------
    "stream_session_windows",
    "stream_session_paths",
    "stream_static_enrich",
    "stream_heavy_hitters",
    "stream_jsonl_ingest",
    "stream_stratified_ingest",
    "partitioned_sink_prune",
    "txtable_stream_tail",
    "stream_ohlc",
    "stream_minmax_ivm",
    "stream_watermark_windows",
]


def registry() -> dict[str, QuerySpec]:
    ordered = {name: REGISTRY[name] for name in CHECKED_WINDOW if name in REGISTRY}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
