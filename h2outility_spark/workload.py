"""Query workload registry — every operator registered as a named pair of
a PySpark implementation and (where the semantics are SQL-expressible) the
equivalent ANSI SQL string for the DuckDB oracle.

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

This module holds only the registry mechanics; the pairs live in one module
per query family (``workload_<family>.py``), imported at the bottom.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from h2outility_spark.schema import EVENTS_AS_DATAVALUES_SQL, events_as_datavalues
from h2outility_spark.session import ensure_utc, release_query_caches
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
    """Register ``fn`` under ``name``. The registered function releases what
    the session's previous query cached (``session.query_cache``) and pins
    the session to UTC. So a query's caches live until the same session's
    next query starts: a frame executed after that still returns the same
    rows, but recomputes its cached parts."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_query_caches(spark)
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


def scratch_dir(prefix: str) -> str:
    """Temp dir for a fixture table, reclaimed at interpreter exit. The
    returned DataFrames read the table's parquet LAZILY (the driver
    collects after the query fn returns), so the dir cannot be deleted
    inside the query — atexit is the earliest safe point, and it keeps
    repeated driver/test runs from accumulating fixture tables in /tmp."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# Register the query families (import side-effect; these modules import
# back from this one, which is safe because everything they need is
# defined above this line). After the checked window, the registry keeps
# this import order.
from h2outility_spark import workload_qc  # noqa: E402,F401
from h2outility_spark import workload_tpch  # noqa: E402,F401
from h2outility_spark import workload_text  # noqa: E402,F401
from h2outility_spark import workload_similarity  # noqa: E402,F401
from h2outility_spark import workload_sketch_graph  # noqa: E402,F401
from h2outility_spark import workload_media  # noqa: E402,F401
from h2outility_spark import workload_sinks  # noqa: E402,F401
from h2outility_spark import workload_txtable  # noqa: E402,F401
from h2outility_spark import workload_streaming  # noqa: E402,F401


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
