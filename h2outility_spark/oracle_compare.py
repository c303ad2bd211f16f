"""THE comparison discipline — one implementation of the normalizer that
decides whether a Spark result and its DuckDB oracle "match".

This is the project's correctness contract: the driver sorts columns by
name, renders floats at 9 significant decimals (NaN spelled out), strings
everything else, and sorts rows. The parity test sweep and the fast gate
scripts once carried their own copies; a drift between copies would make
the fast pre-commit gate and the real parity sweep disagree — so there is
exactly one copy, here, and everything imports it.
"""

from __future__ import annotations

import math


def normalize_rows(rows, columns):
    """Order-insensitive comparable form: returns (columns sorted by name,
    list of row tuples with values rendered per the driver's discipline,
    sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(f"{v:.9g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out
