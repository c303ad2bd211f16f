"""Pin the query registry: its names and every ``oracle_sql()`` string.

The driver hashes each registered query against its oracle, so a module
move or a clean-up that silently drops an entry or edits an oracle changes
what the gate certifies. The digest below is one sha256 over the sorted
``name\\0oracle`` lines of ``workload.REGISTRY``; a deliberate oracle change
or a retired/replaced entry updates it in the same commit, with the reason.
"""

from __future__ import annotations

import hashlib

from h2outility_spark import workload

REGISTRY_SIZE = 227
REGISTRY_DIGEST = "03bb1a1c5a27456412b7a3304fcca53df709295f149d04e369288d8ec4b2db26"


def _digest() -> str:
    lines = sorted(f"{name}\0{spec.oracle}" for name, spec in workload.REGISTRY.items())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def test_registry_names_and_oracles_are_pinned():
    assert len(workload.REGISTRY) == REGISTRY_SIZE
    assert _digest() == REGISTRY_DIGEST
