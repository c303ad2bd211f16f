"""Model-based property test for the transactional table: a random
sequence of append / merge_upsert / overwrite / restore operations must
leave the table equal to a plain dict model applying the same semantics,
and every historical version must stay readable (snapshot isolation)."""

from __future__ import annotations

import pytest

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from h2outility_spark.storage_tx import CommitConflict, TxTable

KEYS = st.integers(min_value=0, max_value=9)
VALS = st.integers(min_value=0, max_value=999)

op_strategy = st.one_of(
    st.tuples(st.just("append"), st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=4)),
    st.tuples(st.just("merge"), st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=4, unique_by=lambda t: t[0])),
    st.tuples(st.just("overwrite"), st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=4)),
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=5)),
    st.tuples(st.just("compact"), st.just(None)),
)


def df_of(spark, pairs):
    return spark.createDataFrame([Row(k=k, v=v) for k, v in pairs], "k int, v int")


@settings(max_examples=8, deadline=None)
@given(st.lists(op_strategy, min_size=1, max_size=5))
def test_txtable_matches_model(spark, tmp_path_factory, ops):
    tdir = str(tmp_path_factory.mktemp("txprop"))
    table = TxTable(spark, tdir, key_cols=["k"])

    model: list[tuple[int, int]] = []  # multiset of rows (append keeps dups)
    model_history: list[list[tuple[int, int]]] = []

    for op, arg in ops:
        if op == "append":
            model = model + list(arg)
            table.append(df_of(spark, arg))
        elif op == "merge":
            upd_keys = {k for k, _ in arg}
            model = [r for r in model if r[0] not in upd_keys] + list(arg)
            table.merge_upsert(df_of(spark, arg))
        elif op == "overwrite":
            model = list(arg)
            table.overwrite(df_of(spark, arg))
        elif op == "restore":
            if not model_history:
                continue
            v = min(arg, len(model_history) - 1)
            model = list(model_history[v])
            table.restore(v)
        elif op == "compact":
            # data-identical maintenance: model unchanged; a no-op (None)
            # creates no version, a real compaction commits one
            if table.compact_files(target_rows=1000, small_rows=1_000_000) is None:
                continue
        model_history.append(list(model))

        got = sorted(tuple(r) for r in table.snapshot().collect())
        assert got == sorted(model), f"after {op}: {got} != {sorted(model)}"

    # snapshot isolation: every historical version still reads back as the
    # model state it was committed with
    for v, expected in enumerate(model_history):
        got = sorted(tuple(r) for r in table.snapshot(version=v).collect())
        assert got == sorted(expected), f"version {v} drifted"

    # CDC invariant: the change feed between consecutive versions equals
    # the multiset diff of the model states (inserts = new-minus-old,
    # deletes = old-minus-new); rewrites (compact) cancel to empty.
    from collections import Counter

    for v in range(1, len(model_history)):
        old, new = Counter(model_history[v - 1]), Counter(model_history[v])
        want_ins, want_del = new - old, old - new
        got_ins: Counter = Counter()
        got_del: Counter = Counter()
        for r in table.changes(v - 1, v).collect():
            row = (r["k"], r["v"])
            (got_ins if r["_change_type"] == "insert" else got_del)[row] += 1
        assert got_ins == want_ins, f"insert feed {v - 1}->{v}"
        assert got_del == want_del, f"delete feed {v - 1}->{v}"


def _apply(model, op, arg):
    """The model state after ``op`` (the serial semantics of each verb)."""
    if op == "append":
        return model + list(arg)
    if op == "merge":
        return [r for r in model if r[0] not in {k for k, _ in arg}] + list(arg)
    if op == "delete":
        return [r for r in model if r[0] not in set(arg)]
    return model  # compact rewrites files, not rows


def _run(spark, table, op, arg):
    if op == "append":
        table.append(df_of(spark, arg))
    elif op == "merge":
        table.merge_upsert(df_of(spark, arg))
    elif op == "delete":
        table.delete_keys(spark.createDataFrame([Row(k=k) for k in arg], "k int"))
    else:
        table.compact_files(target_rows=1000, small_rows=1_000_000)


# A small key space, so racing writers' keys often meet, and often don't.
KEYS6 = st.integers(min_value=0, max_value=5)
UPSERTS = st.lists(st.tuples(KEYS6, VALS), min_size=1, max_size=2, unique_by=lambda t: t[0])
DELETES = st.lists(KEYS6, min_size=1, max_size=2, unique=True)


@settings(max_examples=10, deadline=None)
@given(
    base=st.lists(st.tuples(KEYS6, VALS), min_size=2, max_size=3, unique_by=lambda t: t[0]),
    verb=st.one_of(
        st.tuples(st.just("merge"), UPSERTS),
        st.tuples(st.just("delete"), DELETES),
        st.tuples(st.just("compact"), st.just(None)),
    ),
    racer=st.one_of(
        st.tuples(st.just("append"), UPSERTS),
        st.tuples(st.just("merge"), UPSERTS),
        st.tuples(st.just("delete"), DELETES),
    ),
)
def test_lost_race_lands_as_the_serial_result_or_conflicts(spark, tmp_path_factory, base, verb, racer):
    """Delta's conflict check, randomized: a merge, delete or compaction
    whose commit loses its race to another writer either lands equal to
    running after that writer (the serial result) or raises CommitConflict
    and leaves the other writer's version the latest."""
    tdir = str(tmp_path_factory.mktemp("txrace"))
    table = TxTable(spark, tdir, key_cols=["k"])
    for row in base:  # one file per row, so pruning has files to skip
        table.append(df_of(spark, [row]))

    real_commit, raced = table._commit, []

    def racing_commit(segments, schema, op, parent):
        if not raced and op == verb[0]:
            raced.append(op)
            _run(spark, TxTable(spark, tdir, key_cols=["k"]), *racer)
        return real_commit(segments, schema, op, parent)

    table._commit = racing_commit
    try:
        _run(spark, table, *verb)
        conflicted = False
    except CommitConflict:
        conflicted = True
    got = sorted(tuple(r) for r in table.snapshot().collect())
    after_racer = _apply(list(base), *racer) if raced else list(base)
    if conflicted:
        assert raced and table.history()[-1]["op"] == racer[0]
        assert got == sorted(after_racer)
    else:
        assert got == sorted(_apply(after_racer, *verb))


KEYS4 = st.integers(min_value=0, max_value=3)


@pytest.mark.slow
@settings(max_examples=8, deadline=None)
@given(st.data())
def test_ivm_minmax_matches_recompute_on_random_batches(spark, data):
    """Randomized soundness for the bounded MIN/MAX maintenance: for any
    base multiset, any subset of it deleted and any inserts applied
    through the change feed, the maintained state must agree with a
    from-scratch recompute on count, and its kept arrays must be true
    PREFIXES of the final sorted multiset (a legitimately shrunken kept
    set still always exposes the true extremum). Keys that empty out must
    leave the view."""
    from h2outility_spark.operators import ivm

    base = data.draw(st.lists(st.tuples(KEYS4, VALS), min_size=1, max_size=12))
    del_idx = data.draw(st.sets(st.integers(min_value=0, max_value=len(base) - 1)))
    inserts = data.draw(st.lists(st.tuples(KEYS4, VALS), max_size=8))

    deletes = [base[i] for i in sorted(del_idx)]
    after = list(base)
    for d in deletes:
        after.remove(d)
    after = after + inserts

    old = ivm.minmax_state(df_of(spark, base), ["k"], "v")
    change_rows = [Row(k=k, v=v, _change_type="delete") for k, v in deletes] + [
        Row(k=k, v=v, _change_type="insert") for k, v in inserts
    ]
    changes = spark.createDataFrame(change_rows, "k int, v int, _change_type string")
    after_df = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in after], "k int, v int"
    )
    maintained = {
        r["k"]: r
        for r in ivm.maintain_grouped_minmax(old, changes, after_df, ["k"], "v").collect()
    }

    truth: dict[int, list[int]] = {}
    for k, v in after:
        truth.setdefault(k, []).append(v)

    assert set(maintained) == set(truth), f"key sets differ: {set(maintained)} vs {set(truth)}"
    for k, vals in truth.items():
        row = maintained[k]
        asc, desc = sorted(vals), sorted(vals, reverse=True)
        assert row["n"] == len(vals), f"key {k}: n {row['n']} != {len(vals)}"
        kmin, kmax = list(row["kmin"]), list(row["kmax"])
        assert 1 <= len(kmin) <= 2 and kmin == asc[: len(kmin)], f"key {k}: kmin {kmin} vs {asc}"
        assert 1 <= len(kmax) <= 2 and kmax == desc[: len(kmax)], f"key {k}: kmax {kmax} vs {desc}"
