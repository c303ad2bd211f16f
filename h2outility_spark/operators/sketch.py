"""Frequency sketches built from plain DataFrame aggregates.

A Count-Min Sketch (Cormode & Muthukrishnan 2005) is a d×w grid of
counters; item x increments cell (j, h_j(x)) for each of the d hash
rows, and its estimate is the MIN over the d cells — always an
OVER-estimate (collisions only add), with error ≤ ε·N at ≥ 1−δ
probability for w = e/ε, d = ln(1/δ).

Expressed Spark-first the sketch is nothing exotic: ONE explode(d) +
ONE groupBy((j, bucket)) — fully combiner-friendly (map-side partial
aggregation does the heavy counting before the shuffle), output is the
fixed d·w-row grid regardless of input size, and grids from different
days/shards MERGE by cell-wise addition (a union + re-groupBy), which
is the property that makes it a 100 TB streaming/heavy-hitter tool.
The hashes are md5-derived (``conv(substr(md5(item || ':' || j)))``),
so the grid is deterministic across runs, partitionings AND engines —
a DuckDB oracle can rebuild the exact same grid in SQL.

Reference parity note: the reference has no sketch surface; this is
part of the beyond-reference large-scale pipeline toolkit (same family
as the HLL++/quantile-sketch certificates already certified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bucket_expr(item: str, width: int) -> str:
    """Deterministic hash bucket of ``item`` in row ``j`` (portable: md5 + base-16 conv)."""
    return (
        f"CAST(conv(substr(md5(concat(CAST({item} AS STRING), ':', "
        f"CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % {width}"
    )


def count_min_table(
    items: DataFrame, item_col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Build the d×w Count-Min grid: (j, bucket, c) rows, one per
    non-empty cell. One narrow explode (×depth) + one hash aggregate;
    the result is bounded by depth·width rows however large the input.
    """
    rows = items.select(
        F.col(item_col),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    )
    return (
        rows.withColumn("bucket", F.expr(_bucket_expr(item_col, width)))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_estimate(
    cms: DataFrame, queries: DataFrame, item_col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Point-query the grid for each row of ``queries``: re-derive the d
    buckets, join the (tiny, broadcast) grid, take the MIN — the CMS
    estimate, guaranteed ≥ the true count. ``depth``/``width`` must match
    the build call."""
    probes = queries.select(
        F.col(item_col),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn("bucket", F.expr(_bucket_expr(item_col, width)))
    joined = probes.join(F.broadcast(cms), ["j", "bucket"], "left").fillna({"c": 0})
    return joined.groupBy(item_col).agg(F.min("c").alias("est_n"))


# ---------------------------------------------------------------------------
# HyperLogLog registers (manual, engine-portable, mergeable)
# ---------------------------------------------------------------------------
#
# Spark's approx_count_distinct carries an opaque binary sketch a SQL
# oracle cannot rebuild; these registers are the TRANSPARENT form of the
# same idea (Flajolet et al. 2007): bucket = first 2 md5 hex chars (m =
# 256, no modulo bias), rho = leading-zero count of the NEXT 8 hex chars
# (a 32-bit value) + 1, register M_j = max(rho) per bucket. Everything is
# string/CASE arithmetic — no log2/floats — so Spark and DuckDB produce
# the IDENTICAL grid, and grids from different days/shards MERGE by
# cell-wise MAX (union + re-groupBy), the property that lets a daily
# pipeline serve any rollup grain (weekly, monthly) from stored daily
# registers without rescanning rows.

HLL_M = 256  # 2 hex chars exactly — no modulo, no bias

#: alpha_m * m^2 for m = 256 as ONE pinned double literal: both engines
#: must use this exact value (re-deriving it with a different operation
#: order can differ in the last ulp and flip a rounded certificate).
HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0

#: rho (leading-zero-count + 1) of the 32-bit value in md5 hex chars 3..10,
#: via string ops only: strip leading '0' hex digits, then CASE on the
#: first surviving digit's high bits. Portable Spark/DuckDB verbatim.
_HLL_RHO_SQL_TMPL = (
    "(CASE WHEN {stripped} = '' THEN 33 "
    "ELSE 4 * (8 - length({stripped})) + "
    "(CASE WHEN substr({stripped}, 1, 1) = '1' THEN 3 "
    " WHEN substr({stripped}, 1, 1) IN ('2', '3') THEN 2 "
    " WHEN substr({stripped}, 1, 1) IN ('4', '5', '6', '7') THEN 1 "
    " ELSE 0 END) + 1 END)"
)


def hll_bucket_sql(item_sql: str) -> str:
    """Bucket 0..255 from the first two md5 hex chars (portable SQL)."""
    return f"CAST(conv(substr(md5(CAST({item_sql} AS STRING)), 1, 2), 16, 10) AS BIGINT)"


def hll_rho_sql(item_sql: str) -> str:
    """rho = leading-zero bits of the 32-bit hash + 1 (portable SQL)."""
    stripped = f"regexp_replace(substr(md5(CAST({item_sql} AS STRING)), 3, 8), '^0+', '')"
    return _HLL_RHO_SQL_TMPL.format(stripped=stripped)


def hll_registers(items: DataFrame, item_col: str, *group_cols: str) -> DataFrame:
    """Per-group HLL register grid: (group_cols..., bucket, reg) rows, one
    per non-empty bucket — at most ``HLL_M`` rows per group regardless of
    input size. One combiner-friendly hash aggregate (max is algebraic);
    grids merge across groups/days by cell-wise MAX. NULL items are
    filtered here (count-distinct semantics ignore NULLs): md5(NULL) is
    NULL, and a (NULL, NULL) grid row would inflate ``hll_estimate``'s
    non-empty-bucket count while contributing nothing to the harmonic
    sum — a silent estimate shift."""
    items = items.filter(F.col(item_col).isNotNull())
    keyed = items.select(
        *[F.col(c) for c in group_cols],
        F.expr(hll_bucket_sql(item_col)).alias("bucket"),
        F.expr(hll_rho_sql(item_col)).alias("rho"),
    )
    return keyed.groupBy(*group_cols, "bucket").agg(F.max("rho").alias("reg"))


def hll_merge(grids: DataFrame, *group_cols: str) -> DataFrame:
    """Merge register grids to a coarser grain (e.g. daily → weekly):
    cell-wise MAX per (group, bucket). Exact — merging then estimating
    equals estimating over the union, the HLL mergeability law."""
    return grids.groupBy(*group_cols, "bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(grids: DataFrame, *group_cols: str) -> DataFrame:
    """Raw HLL estimate per group from a register grid: alpha_m * m^2 /
    (sum over ALL m buckets of 2^-M_j), empty buckets contributing 2^0.
    With m = 256 the harmonic sum is a sum of dyadic rationals spanning
    2^8..2^-33 — under 53 bits of span, so the double sum is EXACT in any
    order and the estimate is bit-deterministic across engines. The
    standard range corrections apply (Flajolet et al. 2007 §4):

    * small range (raw <= 2.5m with empty buckets): linear counting
      m*ln(m/V);
    * large range (raw > 2^32/30): the 32-bit hash starts saturating
      (distinct items collide on the full 32-bit value), corrected by
      -2^32 * ln(1 - raw/2^32);
    * saturation ceiling: once raw >= 2^32 the registers carry no
      recoverable signal (every bucket near max rho) — the estimate is
      NULL, the out-of-contract marker. Practical contract: estimates
      are trustworthy up to ~10^8 distinct per group raw and ~4·10^9
      with the large-range correction; beyond that, use a wider hash.

    ln() is the one non-exact step, so certificates should compare
    ROUNDED estimates. A fully empty grid (only possible ungrouped:
    groupBy() over zero rows yields one row with NULL sum) estimates 0
    via the coalesce + linear-counting path (V = m)."""
    m = float(HLL_M)
    two32 = 4294967296.0  # 2^32: the hash domain size
    agg = grids.groupBy(*group_cols).agg(
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("reg"))), F.lit(0.0)).alias(
            "s_nonempty"
        ),
        F.count(F.lit(1)).alias("n_nonempty"),
    )
    zeros = F.lit(m) - F.col("n_nonempty")
    harm = F.col("s_nonempty") + zeros  # empty buckets: 2^0 each
    raw = F.lit(HLL_ALPHA_M2) / harm
    est = (
        F.when(
            (raw <= F.lit(2.5 * m)) & (zeros > 0), F.lit(m) * F.log(F.lit(m) / zeros)
        )
        .when(raw <= F.lit(two32 / 30.0), raw)
        .when(raw < F.lit(two32), -F.lit(two32) * F.log(F.lit(1.0) - raw / F.lit(two32)))
        .otherwise(F.lit(None).cast("double"))  # saturated: out of contract
    )
    return agg.select(*group_cols, est.alias("est_distinct"))


# ---------------------------------------------------------------------------
# Bloom filter (bit positions as rows — the join-prefilter form)
# ---------------------------------------------------------------------------
#
# The filter is represented RELATIONALLY: a tiny DataFrame of the set bit
# positions (at most m_bits rows), not a packed bitset — which is exactly
# what a broadcast hash join wants, and what a SQL oracle can rebuild
# verbatim. k md5-derived positions per key; a probe survives iff ALL k
# of its positions are set (no false negatives ever; false positives at
# the standard (1 - e^{-kn/m})^k rate). This is the semi-join prefilter
# pattern (Spark's own runtime row-group bloom pushdown, Bloom 1970):
# ship the small side's filter to the big side and drop most non-matching
# rows BEFORE the shuffle/join.


def _bloom_pos_sql(item_sql: str, i: int, m_bits: int) -> str:
    return (
        f"CAST(conv(substr(md5(concat(CAST({item_sql} AS STRING), '#', "
        f"CAST({i} AS STRING))), 1, 8), 16, 10) AS BIGINT) % {m_bits}"
    )


def bloom_bits(keys: DataFrame, key_col: str, m_bits: int = 1024, k: int = 3) -> DataFrame:
    """Build the filter from the (small) key side: distinct set bit
    positions, one row each — at most ``m_bits`` rows however many keys."""
    pos = F.array(*[F.expr(_bloom_pos_sql(key_col, i, m_bits)) for i in range(k)])
    return keys.select(F.explode(pos).alias("pos")).distinct()


def bloom_probe(df: DataFrame, probe_col: str, bits: DataFrame, m_bits: int = 1024, k: int = 3) -> DataFrame:
    """Keep only rows of ``df`` whose ``probe_col`` the filter MIGHT
    contain: all k bit positions set. The bits frame is broadcast (≤
    m_bits rows); the probe adds one narrow projection + k broadcast
    semi-joins — which PIPELINE inside a single whole-stage-codegen pass
    over ``df`` (k hash-table probes per row, not k scans), with no
    shuffle of ``df`` anywhere (``tests/test_sketch_graph.py`` pins
    both properties on the physical plan). Survivors still need the
    exact join (false positives pass by design)."""
    # Helper-column prefix must not collide with an existing column of
    # ``df`` (a duplicate name would make the semi-join key ambiguous):
    # extend deterministically until the whole __p0..__p{k-1} family is free.
    base = "__p"
    existing = set(df.columns)
    while any(f"{base}{i}" in existing for i in range(k)):
        base = "_" + base
    pos_cols = [F.expr(_bloom_pos_sql(probe_col, i, m_bits)).alias(f"{base}{i}") for i in range(k)]
    probed = df.select("*", *pos_cols)
    for i in range(k):
        # Every join broadcasts the IDENTICAL bits subplan (no per-i
        # aliasing of the build side), so Spark's ReuseExchange computes
        # the filter build once and the other k−1 probes reuse it.
        marked = F.broadcast(bits.select("pos"))
        probed = probed.join(marked, probed[f"{base}{i}"] == marked["pos"], "semi")
    return probed.drop(*[f"{base}{i}" for i in range(k)])
