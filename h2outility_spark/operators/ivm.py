"""Incremental view maintenance (IVM) over the TxTable change feed.

The 100 TB reason to have a CDF at all: a materialized per-key aggregate
over a 100 TB table must NOT be recomputed because one merge touched 0.1%
of the rows. COUNT/SUM are self-maintainable aggregates (in the classic
materialized-view sense): the new view equals the old view plus a delta
computed from the CHANGES ONLY —

    delta(key)  = Σ (+1/+value for inserts, −1/−value for deletes)
    new(key)    = old(key) ⊕ delta(key), dropping keys whose count hits 0

so maintenance cost is O(|changes|) + one join keyed on the CHANGED keys,
never O(table). An update rides the CDF as its delete+insert pair and
cancels to the right delta automatically; rows merely rewritten by
compaction/copy-on-write never reach the feed (storage_tx.changes cancels
them manifest-side).

Exactness contract: for float measures, old ⊕ delta differs from a
from-scratch recompute in accumulation order (last-ulp drift). Callers
that need HASH-exact equivalence with a recompute (the driver's oracle
gate, bank-grade ledgers) should maintain integer measures (e.g. cents) —
integer addition is associative, so maintained ≡ recomputed bit-for-bit.

AVG/stddev are derived, not maintained: keep (count, sum[, sum_sq]) in the
view and divide at read time.

MIN/MAX are NOT self-maintainable under deletes (a retracted minimum can
expose a value the view never kept). The classic fix, implemented below
(:func:`minmax_state` / :func:`maintain_grouped_minmax`): keep the k
smallest and k largest values per key as bounded state. A deleted value
inside the kept set is removed there; one beyond the horizon cannot have
been the min/max and drops out of the multiset arithmetic naturally; only
a key whose kept set EMPTIES while rows remain needs a rescan — and that
rescan is targeted (semi-join on exactly those keys), so the expected
cost stays O(changes) with an O(hot-key rows) tail instead of O(table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def aggregate_state(rows: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """The materializable (``n_orders``, ``total_cents``) state of a grouped
    count and sum — the shape :func:`maintain_grouped_agg` knows how to
    advance."""
    return rows.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(value_col).alias("total_cents"),
    )


def maintain_grouped_agg(old_agg: DataFrame, changes: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Advance an (``n_orders``, ``total_cents``) grouped aggregate using a CDF frame
    (``storage_tx.TxTable.changes`` shape: destination schema +
    ``_change_type`` in {'insert','delete'}).

    Plan shape: one groupBy over the changes (small), one full-outer join
    against the view keyed on the group key — at scale the view is
    key-partitioned storage, so the join touches only changed keys'
    partitions. Keys whose maintained count reaches zero leave the view.
    """
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).alias("__dn"),
        F.sum(sign * F.col(value_col)).alias("__dsum"),
    )
    joined = old_agg.join(delta, keys, "full_outer")
    n = F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))
    total = F.coalesce(F.col("total_cents"), F.lit(0)) + F.coalesce(F.col("__dsum"), F.lit(0))
    return (
        joined.select(*keys, n.alias("n_orders"), total.alias("total_cents"))
        .filter(F.col("n_orders") > 0)
    )


#: Values kept per side of the bounded MIN/MAX state.
_K = 2


def minmax_state(rows: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Bounded MIN/MAX view state: per key, the k = 2 smallest values
    (``kmin``, ascending), the k largest (``kmax``, descending), the row
    count, and the truncation HORIZONS ``hmin``/``hmax`` (the kth
    smallest/largest at truncation time; NULL when the kept side holds
    the key's entire multiset). The horizons are what make maintenance
    sound: every value NOT in ``kmin`` is ≥ ``hmin`` (resp. ≤ ``hmax``),
    an invariant every maintenance rule below preserves. Built with two
    rank windows + one groupBy, so per-key memory is O(k) regardless of
    group size."""
    from pyspark.sql import Window as W

    asc = F.row_number().over(W.partitionBy(*keys).orderBy(F.col(value_col).asc()))
    desc = F.row_number().over(W.partitionBy(*keys).orderBy(F.col(value_col).desc()))
    ranked = rows.select(*keys, F.col(value_col).alias("__v"), asc.alias("__ra"), desc.alias("__rd"))
    return ranked.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.when(F.col("__ra") <= _K, F.col("__v")))).alias("kmin"),
        F.reverse(
            F.array_sort(F.collect_list(F.when(F.col("__rd") <= _K, F.col("__v"))))
        ).alias("kmax"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.when(F.col("__ra") == _K, F.col("__v"))).alias("__kth_min"),
        F.max(F.when(F.col("__rd") == _K, F.col("__v"))).alias("__kth_max"),
    ).select(
        *keys,
        "kmin",
        "kmax",
        "n",
        F.when(F.col("n") > _K, F.col("__kth_min")).alias("hmin"),
        F.when(F.col("n") > _K, F.col("__kth_max")).alias("hmax"),
    )


def maintain_grouped_minmax(
    old_state: DataFrame,
    changes: DataFrame,
    base_after: DataFrame,
    keys: list[str],
    value_col: str,
    max_broadcast_keys: int = 100_000,
    n_changed_keys: int | None = None,
) -> DataFrame:
    """Advance a :func:`minmax_state` view with CDF rows; ``base_after``
    is the post-change table, consulted ONLY for keys flagged for rescan
    (targeted semi-join — the unavoidable non-self-maintainability tail,
    paid per hot key, never per table).

    The rescan-key list is broadcast only while it is provably small: its
    size is bounded by the distinct keys in the change batch, so a cheap
    count over the (small, by IVM's premise) CDF decides. A pathological
    batch touching more than ``max_broadcast_keys`` keys falls back to
    shuffle joins instead of broadcasting a table-sized key set. Callers
    that already know the batch size (per-micro-batch foreachBatch loops)
    pass ``n_changed_keys`` (any upper bound on the batch's distinct keys)
    to skip that count job entirely.

    Soundness rests on the horizon invariant (every non-kept value is
    beyond the stored horizon), preserved by three rules per side:

      * deletes subtract from the kept multiset; a delete beyond the
        horizon nets negative and clamps away (it cannot have been the
        extremum); the horizon itself never loosens;
      * an insert is ADMITTED into the kept side only when it is inside
        the horizon (v ≤ hmin / v ≥ hmax, or the side is complete,
        hmin/hmax NULL) — admitting a beyond-horizon insert into a
        shrunken kept set could mask a truncated value between them
        (base {1,2,3}, k=2, delete 1 and 2, insert 10: the true min is
        the truncated 3, not 10), the classic unsound shortcut;
      * a key RESCANS when its kept SURVIVORS (old kept minus deletes,
        before any inserts) empty out while the side was truncated and
        rows remain — inserts must not satisfy the emptiness test, for
        the same masking reason.

    Re-truncation moves the horizon to the new kth element — always
    INSIDE the old horizon (candidates are all within it), so it can only
    move hmin down toward the kept boundary / hmax up; the invariant
    still covers the old unknown region while the admission gate merely
    loosens to match the smaller kept set. Returns the
    :func:`minmax_state` shape.
    """
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta_ins = (
        changes.filter(F.col("_change_type") == "insert")
        .groupBy(*keys, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    delta_del = (
        changes.filter(F.col("_change_type") != "insert")
        .groupBy(*keys, F.col(value_col).alias("__v"))
        .agg((-F.count(F.lit(1))).alias("__c"))
    )
    dn = changes.groupBy(*keys).agg(F.sum(sign).alias("__dn"))

    def advance(kept_col: str, h_col: str, descending: bool):
        """Returns (per-key new kept array + new horizon, per-key rescan flag)."""
        old_elems = old_state.select(
            *keys, F.explode(kept_col).alias("__v"), F.lit(1).alias("__c")
        )
        horizons = old_state.select(*keys, F.col(h_col).alias("__h"))
        adm = delta_ins.join(horizons, keys, "left").filter(
            F.col("__h").isNull()
            | ((F.col("__v") >= F.col("__h")) if descending else (F.col("__v") <= F.col("__h")))
        ).select(*keys, "__v", "__c")
        # survivors: kept minus deletes ONLY (inserts must not mask emptiness)
        surv = (
            old_elems.unionByName(delta_del)
            .groupBy(*keys, "__v")
            .agg(F.sum("__c").alias("__s"))
            .groupBy(*keys)
            .agg(F.sum(F.greatest(F.col("__s"), F.lit(0))).alias("__surv_n"))
        )
        merged = (
            old_elems.unionByName(adm).unionByName(delta_del)
            .groupBy(*keys, "__v")
            .agg(F.sum("__c").alias("__c"))
            .withColumn("__c", F.greatest(F.col("__c"), F.lit(0)))
            .filter(F.col("__c") > 0)
        )
        full = F.array_sort(
            F.flatten(F.collect_list(F.array_repeat(F.col("__v"), F.col("__c").cast("int"))))
        )
        if descending:
            full = F.reverse(full)
        rebuilt = merged.groupBy(*keys).agg(full.alias("__full"))
        rebuilt = rebuilt.select(
            *keys,
            F.slice("__full", 1, _K).alias(kept_col),
            # re-truncation: horizon moves to the new kth element (always
            # inside the old horizon, so the invariant keeps covering the
            # old unknown region)
            F.when(F.size("__full") > _K, F.element_at("__full", _K)).alias("__kth"),
        )
        side = (
            old_state.select(*keys, F.col(h_col).alias("__h_old"))
            .join(rebuilt, keys, "left")
            .join(surv, keys, "left")
            .select(
                *keys,
                F.coalesce(
                    F.col(kept_col),
                    F.array().cast(dict(old_state.dtypes)[kept_col]),
                ).alias(kept_col),
                F.coalesce(F.col("__kth"), F.col("__h_old")).alias(h_col),
                (
                    F.col("__h_old").isNotNull()
                    & (F.coalesce(F.col("__surv_n"), F.lit(0)) == 0)
                ).alias(f"__rescan_{kept_col}"),
            )
        )
        return side

    side_min = advance("kmin", "hmin", descending=False)
    side_max = advance("kmax", "hmax", descending=True)
    counts = (
        old_state.select(*keys, "n")
        .join(dn, keys, "full_outer")
        .select(
            *keys,
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    # brand-new keys (no old state): their inserts are complete knowledge —
    # build their sides directly from the admitted-everything multiset
    new_keys = counts.join(old_state.select(*keys), keys, "left_anti").select(*keys)
    maintained = (
        counts.join(side_min, keys, "left")
        .join(side_max, keys, "left")
    )
    rescan_keys = maintained.filter(
        F.coalesce(F.col("__rescan_kmin"), F.lit(False))
        | F.coalesce(F.col("__rescan_kmax"), F.lit(False))
        | F.col("kmin").isNull()  # alive key with no side state: rebuild
        | (F.size("kmin") == 0)
        | (F.size("kmax") == 0)
    ).select(*keys).unionByName(new_keys).distinct()
    # |rescan_keys| <= |distinct changed keys| (+ new keys, also changed),
    # so one cheap count over the change batch bounds the broadcast size.
    # A caller that already knows the batch size (a foreachBatch loop that
    # just built the micro-batch, a CDF reader that counted its files)
    # passes n_changed_keys — any upper bound on the distinct changed keys
    # — and skips the extra Spark job per maintenance call.
    if n_changed_keys is None:
        n_changed_keys = changes.select(*keys).distinct().count()
    rescan_hinted = (
        F.broadcast(rescan_keys) if n_changed_keys <= max_broadcast_keys else rescan_keys
    )
    healthy = (
        maintained.join(rescan_hinted, keys, "left_anti")
        .select(*keys, "kmin", "kmax", "n", "hmin", "hmax")
    )
    rescanned = minmax_state(base_after.join(rescan_hinted, keys, "left_semi"), keys, value_col)
    return healthy.unionByName(rescanned)
