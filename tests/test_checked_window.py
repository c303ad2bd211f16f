"""The driver hashes only the first 50 registered queries — make the curated
window an invariant, not an accident."""

from __future__ import annotations

from h2outility_spark import workload


def test_window_is_exactly_50_known_queries():
    assert len(workload.CHECKED_WINDOW) == 50
    assert len(set(workload.CHECKED_WINDOW)) == 50
    missing = [n for n in workload.CHECKED_WINDOW if n not in workload.REGISTRY]
    assert not missing, f"window names not registered: {missing}"


def test_registry_leads_with_the_window():
    names = list(workload.registry().keys())
    assert names[:50] == workload.CHECKED_WINDOW


def test_every_registered_query_earns_a_driver_row():
    """Round-4 rotation goal: after this round, every registered query has
    had >=1 driver CORRECTNESS row. Invariant: each query is either in a
    prior round's CORRECTNESS file or in the current window. A new query
    added later must start its life inside the window (or the invariant
    fails loudly here)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    previously = set()
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(p) as f:
            previously.update(json.load(f).keys())
    window = set(workload.CHECKED_WINDOW)
    orphans = [n for n in workload.registry() if n not in previously and n not in window]
    assert not orphans, f"queries with no driver evidence path: {orphans}"


def test_rotation_keeps_every_query_fresh():
    """The rotation discipline, mechanized (VERDICT r12 #8): at window-build
    time, every registered query must either sit in the CURRENT window (it
    is about to earn a fresh driver row) or have a GREEN driver row within
    the last 4 completed rounds. A mis-pinned rotation that lets a query go
    stale now fails here instead of in a judge verdict."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest_green: dict[str, int] = {}
    max_round = 0
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", p)
        if m is None:
            continue  # e.g. a CORRECTNESS_r13_solo.json-style side record
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(p) as f:
            for name, rec in json.load(f).items():
                green = (
                    rec.get("rows_match")
                    and rec.get("schema_match")
                    and rec.get("hash_match") is not False
                    and not rec.get("err")
                )
                if green and rnd > newest_green.get(name, -1):
                    newest_green[name] = rnd
    window = set(workload.CHECKED_WINDOW)
    stale = [
        f"{n} (newest green r{newest_green.get(n, 0)})"
        for n in workload.registry()
        if n not in window and newest_green.get(n, 0) < max_round - 3
    ]
    assert not stale, (
        f"queries staler than 4 rounds and not in the current window: {stale}"
    )


def test_registry_capacity_policy_freeze_at_234():
    """The registry-capacity POLICY (VERDICT r13 #4, decided r14): the
    4-round freshness gate above holds 4 x 50 = 200 green slots, so every
    registered query beyond 200 rides a window as a forced pick. The
    registry FREEZES at 234 (227 registered post-r14 plus headroom for
    seven more). That leaves 34 forced picks + 16 free slots per window
    forever, which the 4-round gate can sustain indefinitely. From r16
    on, a NEW query may only land as a REPLACEMENT: retire a
    near-redundant entry in the same commit (keeping this cap green) —
    never widen the gate (dilutes freshness) and never grow past the cap
    (starves promotions, the builder's ~240 law)."""
    assert len(workload.REGISTRY) <= 234, (
        f"registry has {len(workload.REGISTRY)} entries, over the frozen cap "
        "of 234: retire a near-redundant entry in the same commit that adds "
        "a new one (capacity policy, NOTES_NEXT_ROUND r14)"
    )


def test_window_queries_all_have_oracles_except_nonsql():
    # Every window entry should carry a DuckDB oracle — a window slot spent
    # on a rows-only check is a wasted hard-signal slot.
    allowed_no_oracle: set[str] = set()
    reg = workload.registry()
    bad = [n for n in workload.CHECKED_WINDOW if reg[n].oracle is None and n not in allowed_no_oracle]
    assert not bad, f"window queries without oracle: {bad}"
