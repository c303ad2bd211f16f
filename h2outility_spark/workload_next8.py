"""Round-13 registry additions: (PySpark fn, DuckDB oracle) pairs that
entered the registry in the round-13 rotation.

Coverage targets:
  * ``hll_register_rollup`` — the FOURTH sketch family made mergeable:
    manual HyperLogLog registers (md5 bucket + leading-zero rho, pure
    string/CASE arithmetic, so a SQL oracle rebuilds the grid exactly).
    Spark builds per-DAY grids and max-merges them into weekly; the
    oracle builds weekly directly — equality IS the HLL merge law on
    the driver hash, with a 3-sigma accuracy band beside exact counts.
  * ``bloom_prefilter_join`` — the semi-join prefilter pattern (Spark's
    runtime row-group bloom, relationally): a 1024-bit filter built
    from the small key side, probed by orders with THREE broadcast
    semi-joins (no shuffle of the big side); per-priority candidate vs
    exact counts plus the no-false-negative law on the hash.
  * ``txtable_delete_keys`` — the missing third verb (NEW TxTable API
    ``delete_keys``): copy-on-write DELETE by key with the same
    two-level file pruning as merge, then a subsequent merge on the
    thinned table; final snapshot on the hash.
  * ``txtable_branch_tombstones`` — ``merge_from_branch(
    propagate_deletes=True)``: keys the branch deleted without
    re-inserting are tombstoned out of main; an updated key (CDF
    delete+insert pair) is never a tombstone. The asymmetry rides the
    hash.
  * ``txtable_cdf_replica`` — cross-table CDC replication: a replica
    bootstrapped from version 0 then advanced ONLY by the source's
    per-version change feed (inserts merged, net deletes tombstoned)
    must equal the source snapshot bit-for-bit — O(changes) per step,
    never a re-copy.
  * ``label_prop_nations`` — semi-supervised label propagation (NEW
    operator ``graph.label_propagation``): region labels seeded on a
    fifth of the nations spread along the undirected trade graph by
    synchronous majority vote (count DESC, label ASC tie-break),
    seeds clamped; the oracle unrolls both rounds as chained CTEs
    (the PageRank-oracle pattern).
  * ``partitioned_sink_prune`` — the partition-pruned layout contract:
    events written ``partitionBy(event_type)``, read back with a
    partition filter (the scan lists only matching directories — the
    layout half of predicate pushdown), daily rollup on the hash.
  * ``doc_token_entropy`` — per-document unigram Shannon entropy (the
    repetitiveness/diversity score next to ``doc_lm_score`` and
    ``repetition_signals``); one explode + two hash aggregates.
  * ``zipf_slope_fit`` — corpus health check: OLS slope of
    ln(frequency) on ln(rank) over each source's top-100 tokens
    (natural text ≈ −1); closed-form sums on both engines, ranked on
    exact integer counts so the regression inputs are engine-identical.
  * ``stratified_topk_sample`` — deterministic per-source k-sample by
    md5(doc_id) order: the RNG-free "uniform" sample whose membership
    is stable across runs, engines and corpus growth (the same property
    as ``hash_split``), as rows with their sample rank.
  * ``mixture_temperature_plan`` — temperature-scaled source mixture
    (the multilingual-sampling rule p_i^τ / Σ p_j^τ, τ = 0.7): per
    source, raw share → reweighted share → expected tokens of a 1M
    budget; the standard up-weighting of small sources for training
    mixes.
  * ``pack_conservation_cert`` — integer-exact laws of the certified
    512-token packer on one row: token conservation (Σ bin totals =
    corpus total) and the straddle bound (max bin ≤ budget − 1 +
    largest doc) — the two invariants a packing bug breaks first.
  * ``txtable_branch_conflicts`` — the divergence report a three-way
    merge needs (NEW TxTable API ``branch_conflicts``): keys touched on
    BOTH branches since the fork, with both branches' values (NULL for
    a branch delete) and a deterministic resolution beside them.
  * ``label_prop_weighted`` — ``label_propagation(weight_col=...)``:
    the vote becomes sum(edge weight) instead of neighbor count —
    integer trade volumes keep it exact; two rounds unrolled in the
    oracle like the unweighted pair.
  * ``hll_week_overlap`` — sketch SET ALGEBRA: week-over-week user
    retention estimated from stored registers alone via
    inclusion-exclusion (est_A + est_B − est_union, union = cell-wise
    MAX merge) beside the exact intersection — the "how many users came
    back" question answered without rescanning either week.
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from h2outility_spark.operators import graph, sketch
from h2outility_spark.sources.parquet import read_parquet
from h2outility_spark.workload import _t, fround, query, sql_round
from h2outility_spark.workload_lakehouse import scratch_dir
from h2outility_spark.workload_text import _N_TOKENS_SQL, toks_cte

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


def _bloom_pos_oracle(item_sql: str, i: int, m_bits: int = _BLOOM_M) -> str:
    """DuckDB restatement of ``sketch._bloom_pos_sql`` — ONE definition
    (workload_next9 imports it) so the md5-position formula can never
    drift between the two Bloom certificates and the operator."""
    return (
        f"('0x' || substr(md5(CAST({item_sql} AS VARCHAR) || '#{i}'), 1, 8))::BIGINT"
        f" % {m_bits}"
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


# -- TxTable DELETE: the missing third verb --------------------------------------------

TXDELETE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 8
),
kept AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
merged AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 99 AS cents
  FROM orders WHERE o_orderkey % 100 = 8
)
SELECT * FROM kept UNION ALL SELECT * FROM merged
"""


@query(
    "txtable_delete_keys",
    oracle=TXDELETE_ORACLE,
    description="TxTable copy-on-write DELETE by key with two-level file pruning, then a merge on the thinned table",
)
def q_txtable_delete_keys(spark, sf_dir):
    """Copy-on-write DELETE by key (NEW TxTable API ``delete_keys``) —
    the verb retention erasure and right-to-be-forgotten pipelines need
    next to append and merge: matching keys anti-joined out of only the
    OVERLAPPING files (same two-level min/max pruning as merge_upsert;
    disjoint files carry by reference, emptied files vanish), then a
    normal merge lands on the thinned table to prove the delete commit
    composes. Final snapshot on the hash; the deleted rows' absence AND
    the survivors' presence both certify (a delete that dropped a whole
    overlapping file's survivors, or missed a key, flips it)."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 8).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    merged = orders.filter(F.col("o_orderkey") % 100 == 8).select(
        "o_orderkey", "o_custkey", (cents + F.lit(99)).alias("cents")
    )
    t = TxTable(spark, scratch_dir("h2ou_del_") + "/t", key_cols=["o_orderkey"])
    t.append(base)
    t.delete_keys(base.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"))
    t.merge_upsert(merged)
    return t.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- branch merge-back with tombstones --------------------------------------------------

TXTOMB_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
),
newrows AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 = 6
),
final_base AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN cents + 700 ELSE cents END AS cents
  FROM base
  WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0)
)
SELECT * FROM final_base UNION ALL SELECT * FROM newrows
"""


@query(
    "txtable_branch_tombstones",
    oracle=TXTOMB_ORACLE,
    description="merge_from_branch(propagate_deletes=True): branch deletes tombstone, updates never do",
)
def q_txtable_branch_tombstones(spark, sf_dir):
    """The delete-propagating branch merge the certified
    ``txtable_branch_merge_back`` declares out of scope by default:
    the branch DELETES a fifth of the rows (``delete_keys``) and updates
    a seventh (+700), main advances independently, and the merge-back
    runs with ``propagate_deletes=True`` — keys the branch deleted
    WITHOUT re-inserting are tombstoned out of main, while a key that
    was deleted AND re-upserted (the %35 overlap) is an update, never a
    tombstone. That asymmetry is exactly what the hash certifies: a
    merge that replayed raw CDF delete rows would also kill the %35
    keys; one that ignored deletes would keep the %5 keys."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    newrows = orders.filter(F.col("o_orderkey") % 100 == 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    upd = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "cents", F.col("cents") + F.lit(700)
    )

    main = TxTable(spark, scratch_dir("h2ou_tomb_") + "/t", key_cols=["o_orderkey"])
    main.append(base)
    br = main.branch("clean")
    br.delete_keys(base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"))
    br.merge_upsert(upd)          # %35 keys come back: update, not tombstone
    main.merge_upsert(newrows)    # main advances independently meanwhile
    main.merge_from_branch(main.branch_table("clean"), propagate_deletes=True)
    return main.snapshot().select("o_orderkey", "o_custkey", "cents")


# -- CDC replication: replica advanced only by the change feed --------------------------

CDF_REPLICA_ORACLE = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 2 = 0
            THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 111
            ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END AS cents
FROM orders
WHERE o_orderkey % 100 < 5 AND o_orderkey % 9 <> 0
"""


@query(
    "txtable_cdf_replica",
    oracle=CDF_REPLICA_ORACLE,
    description="Cross-table CDC replication: replica advanced only by the per-version change feed equals the source",
)
def q_txtable_cdf_replica(spark, sf_dir):
    """Cross-table CDC replication — the pattern that keeps a downstream
    copy (another region, a serving store) in sync at O(changes), never
    O(table): the replica bootstraps from the source's version 0, then
    advances ONLY by consuming ``changes(v-1, v)`` per committed version
    — inserts ``merge_upsert``'d, net deletes (delete rows anti-joined
    against insert keys) ``delete_keys``'d. The source runs all three
    verbs (append, merge +111 on even keys, delete of the %9 keys) so
    the feed carries every change type; the replica's final snapshot
    must equal the source's bit-for-bit, which the oracle's direct
    restatement of the final state certifies. The per-version loop is
    driver-side but bounded by the COMMIT COUNT (3 here), never by data
    volume — each step is two distributed jobs over just the changed
    files."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 5).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    upd = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "cents", F.col("cents") + F.lit(111)
    )

    root = scratch_dir("h2ou_repl_")
    src = TxTable(spark, root + "/src", key_cols=["o_orderkey"])
    v0 = src.append(base)
    src.merge_upsert(upd)
    src.delete_keys(base.filter(F.col("o_orderkey") % 9 == 0).select("o_orderkey"))

    replica = TxTable(spark, root + "/replica", key_cols=["o_orderkey"])
    replica.append(src.snapshot(v0))  # bootstrap at the fork version
    for v in range(v0 + 1, src.latest_version() + 1):
        cdf = src.changes(v - 1, v)
        inserts = cdf.filter(F.col("_change_type") == "insert").drop("_change_type")
        tombstones = (
            cdf.filter(F.col("_change_type") == "delete")
            .select("o_orderkey")
            .join(inserts.select("o_orderkey").distinct(), "o_orderkey", "left_anti")
            .distinct()
        )
        replica.delete_keys(tombstones)
        replica.merge_upsert(inserts)
    return replica.snapshot().select("o_orderkey", "o_custkey", "cents")


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
    return graph.label_propagation(edges, seeds, n_iter=_LP_ITERS)


# -- partition-pruned layout ------------------------------------------------------------

PARTITIONED_PRUNE_ORACLE = f"""
SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE event_type IN ('click', 'view') AND value IS NOT NULL
GROUP BY 1, 2
"""


@query(
    "partitioned_sink_prune",
    oracle=PARTITIONED_PRUNE_ORACLE,
    description="Partitioned parquet sink + partition-pruned read-back (layout half of pushdown)",
)
def q_partitioned_sink_prune(spark, sf_dir):
    """The partition-pruned table layout — the layout half of predicate
    pushdown a 100 TB events store lives on: events written
    ``partitionBy(event_type)`` (each type its own directory; the value
    leaves the data file and moves into the path), read back with a
    partition filter so the scan LISTS ONLY the matching directories —
    other types' files are never opened, not merely skipped row-group
    by row-group (``tests/test_pushdown.py`` pins the PartitionFilters
    plan evidence). The daily rollup on the hash certifies the
    write→prune→read loop loses nothing: partition values round-trip
    (the column comes back from the path), timestamps keep micros, and
    the pruned scan returns exactly the two types' rows."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value", "event_type"
    )
    out = scratch_dir("h2ou_part_") + "/events_by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = read_parquet(spark, out)
    return (
        back.filter(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")).alias(
                "total_cents"
            ),
        )
    )


# -- per-document unigram entropy --------------------------------------------------------

DOC_ENTROPY_ORACLE = f"""
WITH {toks_cte().strip().rstrip()},
cnt AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS BIGINT) AS u
        FROM cnt GROUP BY 1),
ent AS (
  SELECT cnt.doc_id,
         -sum((cnt.c / tot.n) * ln(cnt.c / tot.n)) AS h
  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
  GROUP BY 1
)
SELECT ent.doc_id, CAST(tot.n AS BIGINT) AS n_tokens, tot.u AS n_unique,
       {sql_round("ent.h", 4)} AS entropy
FROM ent JOIN tot ON tot.doc_id = ent.doc_id
"""


@query(
    "doc_token_entropy",
    oracle=DOC_ENTROPY_ORACLE,
    description="Per-document unigram Shannon entropy (repetitiveness/diversity quality signal)",
)
def q_doc_token_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy — the diversity score next
    to ``doc_lm_score`` (cross-entropy vs the corpus) and
    ``repetition_signals`` (surface repeats): low entropy flags
    boilerplate and keyword-stuffed docs that length filters miss. One
    explode + two hash aggregates (term counts, then the entropy sum) —
    both combiner-friendly, no windows. The 4-dp rounding absorbs the
    cross-engine ln() ulp; the p·ln p terms are otherwise identical
    expression shapes."""
    from h2outility_spark.operators.text import normalize_ws

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_ws(F.col("text"))
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.explode(F.split(norm, " ")).alias("w")
    )
    cnt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"), F.count(F.lit(1)).alias("u")
    )
    p = F.col("c") / F.col("n")
    ent = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    return ent.join(tot, "doc_id").select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("u").alias("n_unique"),
        fround(F.col("h"), 4).alias("entropy"),
    )


# -- Zipf rank-frequency slope per source ------------------------------------------------

_ZIPF_TOPK = 100

ZIPF_ORACLE = f"""
WITH {toks_cte().strip().rstrip()},
src AS (
  SELECT d.source, t.w FROM toks t JOIN documents d ON d.doc_id = t.doc_id
),
cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
  FROM cnt
),
top AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked WHERE rk <= {_ZIPF_TOPK}),
s AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM top GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_terms,
       {sql_round("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 4)} AS slope,
       {sql_round("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 4)} AS intercept
FROM s
"""


@query(
    "zipf_slope_fit",
    oracle=ZIPF_ORACLE,
    description="Zipf slope: closed-form OLS of ln(freq) on ln(rank) over each source's top-100 tokens",
)
def q_zipf_slope_fit(spark, sf_dir):
    """Zipf's-law health check per source: OLS slope of ln(frequency) on
    ln(rank) over the top-100 tokens (natural text sits near −1; a
    slope far off flags templated or synthetic sources — the corpus
    forensics siblings of ``series_trend_fit``'s per-series OLS). Ranks
    come from EXACT integer counts with the (count DESC, token) rule, so
    the regression inputs are engine-identical up to ln() ulp; both
    engines run the same closed-form normal-equation sums and round the
    fitted coefficients to 4 dp. One token-count aggregate + one
    bounded per-source top-k window + one 100-row-per-source
    regression aggregate."""
    from h2outility_spark.operators.text import normalize_ws

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_ws(F.col("text"))
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("w")
    )
    cnt = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    rk_w = W.partitionBy("source").orderBy(F.col("c").desc(), F.col("w"))
    top = (
        cnt.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _ZIPF_TOPK)
        .select(
            "source",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("c").cast("double")).alias("y"),
        )
    )
    s = top.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "source",
        F.col("n").cast("bigint").alias("n_terms"),
        fround(slope, 4).alias("slope"),
        fround(intercept, 4).alias("intercept"),
    )


# -- deterministic per-source k-sample ---------------------------------------------------

_SAMPLE_K = 20

STRAT_TOPK_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(rk AS INT) AS rk
FROM r WHERE rk <= {_SAMPLE_K}
"""


@query(
    "stratified_topk_sample",
    oracle=STRAT_TOPK_ORACLE,
    description="Deterministic per-source k-sample by md5(doc_id) order — RNG-free, growth-stable membership",
)
def q_stratified_topk_sample(spark, sf_dir):
    """Deterministic per-source k-sample: rank docs within each source by
    md5(doc_id) (an order that is uniform-ish but has NO RNG state —
    ``hash_sample``'s fixed-size sibling) and keep the first 20. The
    property that matters for dataset curation: membership is stable
    across runs, engines, partitionings AND corpus growth — a doc
    already sampled stays sampled as new docs arrive unless they hash
    earlier, so audits reproduce. Per-source window sort over the
    source's rows; at 100 TB grain this is the top-k-per-group shape
    (rank filter pushes the sort toward TakeOrdered within each
    group)."""
    from h2outility_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    rk_w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("bigint").alias("n_tokens"),
            F.row_number().over(rk_w).alias("rk"),
        )
        .filter(F.col("rk") <= _SAMPLE_K)
    )


# -- temperature-scaled source mixture ---------------------------------------------------

_MIX_TAU, _MIX_BUDGET = 0.7, 1_000_000

MIX_TEMP_ORACLE = f"""
WITH per AS (
  SELECT source, CAST(sum({_N_TOKENS_SQL}) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_tokens) AS total FROM per),
w AS (
  SELECT per.source, per.n_tokens,
         power(per.n_tokens / tot.total, {_MIX_TAU}) AS pw
  FROM per, tot
),
z AS (SELECT sum(pw) AS z FROM w)
SELECT w.source,
       CAST(w.n_tokens AS BIGINT) AS n_tokens,
       {sql_round("w.pw / z.z", 4)} AS weight,
       CAST(floor(({sql_round("w.pw / z.z", 4)}) * {_MIX_BUDGET}.0 + 0.5) AS BIGINT) AS planned_tokens
FROM w, z
"""


@query(
    "mixture_temperature_plan",
    oracle=MIX_TEMP_ORACLE,
    description="Temperature-0.7 source mixture: raw share, reweighted share, planned tokens of a 1M budget",
)
def q_mixture_temperature_plan(spark, sf_dir):
    """Temperature-scaled source mixture (τ = 0.7) — the standard
    multilingual/multi-domain sampling rule p_i^τ / Σ p_j^τ that
    up-weights small sources in a training mix (τ = 1 keeps natural
    proportions, τ → 0 approaches uniform): per source, raw token
    share → reweighted share → planned token budget out of 1M. Two
    bounded aggregates (per-source sums, then the normalizer over a
    handful of rows); the weights are rounded at 4 dp on both engines
    and the planned budget applies the shared half-up integer rule to
    the ALREADY-ROUNDED weight — deriving the integer from the raw
    pow() value would let a last-ulp Java-vs-DuckDB power() difference
    at a half-up boundary flip it (the r9 boundary lesson). The batch
    twin of ``mixture_plan_tokens``'s fixed-quota plan."""
    from h2outility_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text")).cast("bigint")).cast("double").alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("total"))
    w = per.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens") / F.col("total"), F.lit(_MIX_TAU)).alias("pw"),
    )
    z = w.agg(F.sum("pw").alias("z"))
    weight = F.col("pw") / F.col("z")
    return w.join(F.broadcast(z)).select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        fround(weight, 4).alias("weight"),
        F.floor(fround(weight, 4) * F.lit(float(_MIX_BUDGET)) + F.lit(0.5))
        .cast("bigint")
        .alias("planned_tokens"),
    )


# -- packer conservation certificate -----------------------------------------------------

_PACK_BUDGET = 512

PACK_CERT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST({_N_TOKENS_SQL} AS BIGINT) AS n FROM documents
),
pre AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
  FROM t
),
bins AS (
  SELECT prefix // {_PACK_BUDGET} AS bin_id, sum(n) AS bin_tokens
  FROM pre GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
       CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens,
       sum(bin_tokens) = (SELECT sum(n) FROM t) AS conserved,
       max(bin_tokens) <= {_PACK_BUDGET} - 1 + (SELECT max(n) FROM t) AS straddle_bounded
FROM bins
"""


@query(
    "pack_conservation_cert",
    oracle=PACK_CERT_ORACLE,
    description="Packer conservation certificate: token totals preserved + straddle bound, integer-exact",
)
def q_pack_conservation_cert(spark, sf_dir):
    """The certified packer's two integer-exact laws on one row — the
    invariants a packing bug breaks first, and both checkable without
    floats: CONSERVATION (the bins' token totals sum to exactly the
    corpus total — no doc dropped or double-packed) and the STRADDLE
    BOUND (a bin exceeds the 512 budget only by the straddling doc:
    max bin ≤ budget − 1 + largest doc, provable from the prefix-sum
    charging rule). Runs the same ``pack_sequences`` plan the certified
    ``pack_sequences`` query hashes, then folds the laws into one
    all-integer certificate row."""
    from h2outility_spark.operators.text import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    bins = pack_sequences(docs, budget_tokens=_PACK_BUDGET)
    from h2outility_spark.operators.text import space_token_count

    corpus = docs.select(
        space_token_count(F.col("text")).cast("bigint").alias("n")
    ).agg(F.sum("n").alias("corpus_total"), F.max("n").alias("max_doc"))
    agg = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("total_tokens").alias("total_tokens"),
        F.max("total_tokens").alias("max_bin_tokens"),
    )
    return agg.join(F.broadcast(corpus)).select(
        "n_bins",
        "total_tokens",
        "max_bin_tokens",
        (F.col("total_tokens") == F.col("corpus_total")).alias("conserved"),
        (
            F.col("max_bin_tokens")
            <= F.lit(_PACK_BUDGET - 1) + F.col("max_doc")
        ).alias("straddle_bounded"),
    )


# -- three-way branch divergence report --------------------------------------------------

TXCONFLICTS_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 100 < 6
),
conf AS (
  SELECT o_orderkey FROM base
  WHERE o_orderkey % 3 = 0 AND (o_orderkey % 4 = 0 OR o_orderkey % 5 = 0)
)
SELECT b.o_orderkey,
       b.cents AS cents_main,
       b.cents + 111 AS cents_br1,
       CASE WHEN b.o_orderkey % 5 = 0 THEN NULL
            WHEN b.o_orderkey % 4 = 0 THEN b.cents + 222 END AS cents_br2,
       CASE WHEN b.o_orderkey % 5 = 0 THEN b.cents + 111
            ELSE greatest(b.cents + 111, b.cents + 222) END AS resolved_cents
FROM base b JOIN conf USING (o_orderkey)
"""


@query(
    "txtable_branch_conflicts",
    oracle=TXCONFLICTS_ORACLE,
    description="Two-branch divergence report: keys touched on both sides since the fork, with both values",
)
def q_txtable_branch_conflicts(spark, sf_dir):
    """The divergence report a three-way merge needs BEFORE choosing a
    resolution policy (NEW TxTable API ``branch_conflicts``): two
    branches fork from the same main — one updates every third key
    (+111), the other updates every fourth (+222) and DELETES every
    fifth — and the report lists exactly the keys touched on BOTH
    (%3 ∩ (%4 ∪ %5)), each with main's value, both branches' values
    (NULL where a branch deleted the key — a delete IS a conflicting
    touch), and a deterministic keep-the-greater resolution beside
    them. A key updated then deleted on the second branch (%60) nets to
    a delete in its CDF and still conflicts. Keys touched on only ONE
    branch never appear — the asymmetry the report exists to expose."""
    from h2outility_spark.storage_tx import TxTable

    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 100 < 6).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    main = TxTable(spark, scratch_dir("h2ou_conf_") + "/t", key_cols=["o_orderkey"])
    main.append(base)
    br1 = main.branch("fix1")
    br2 = main.branch("fix2")
    br1.merge_upsert(
        base.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "cents", F.col("cents") + F.lit(111)
        )
    )
    br2.merge_upsert(
        base.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "cents", F.col("cents") + F.lit(222)
        )
    )
    br2.delete_keys(base.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"))

    conf = main.branch_conflicts(main.branch_table("fix1"), main.branch_table("fix2"))
    cmain = main.snapshot().select("o_orderkey", F.col("cents").alias("cents_main"))
    c1 = br1.snapshot().select("o_orderkey", F.col("cents").alias("cents_br1"))
    c2 = br2.snapshot().select("o_orderkey", F.col("cents").alias("cents_br2"))
    rep = (
        conf.join(cmain, "o_orderkey")
        .join(c1, "o_orderkey", "left")
        .join(c2, "o_orderkey", "left")
    )
    resolved = F.when(F.col("cents_br2").isNull(), F.col("cents_br1")).otherwise(
        F.greatest("cents_br1", "cents_br2")
    )
    return rep.select(
        "o_orderkey",
        "cents_main",
        "cents_br1",
        "cents_br2",
        resolved.alias("resolved_cents"),
    )


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
    return graph.label_propagation(edges, seeds, n_iter=_LP_ITERS, weight_col="w")


# -- HLL set algebra: week-over-week retention from registers alone ----------------------


def _hll_est_sql(reg_cte: str, key: str) -> str:
    """Estimate CTE body over a (key, bucket, reg) register CTE — the
    same pinned-literal formula as HLL_ROLLUP_ORACLE."""
    return (
        f"SELECT {key}, {_hll_case_sql('s', 'n')} AS e FROM ("
        f"SELECT {key}, sum(power(2.0, -reg)) AS s, CAST(count(*) AS DOUBLE) AS n "
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
est_w AS ({_hll_est_sql("wk", "week")}),
est_u AS ({_hll_est_sql("uni", "week")}),
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
