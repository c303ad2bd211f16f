"""Long→wide pivot — the reference's core transform (SURVEY.md §2.5, A1–A5;
``src/Utilities/DatasetUtilities.py:166-205,296-341`` in /root/reference).

Reference semantics: pivot DataValues on (VariableCode, MethodID) over a
timestamp index, fill NULLs with each variable's sentinel NoDataValue, and
disambiguate duplicate column names ('Temp', 'Temp-1', 'Temp-2', …) in
catalog order.

Scale notes (SURVEY.md §7.4 item 1): Spark's ``pivot(col)`` without explicit
values runs a distinct-discovery job over the fact table first. We always
supply the pivot values from the (tiny) series catalog instead — one scan
saved, and the column set is deterministic, which the duplicate-column
renaming contract requires anyway. The pivot itself is a single hash
aggregate: partial map-side per (index, pivot) pair, one shuffle on the
index columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Hard cap on pivot width (distinct (variable, method) pairs). Each pair
#: becomes one aggregate expression in a single codegen'd operator; beyond a
#: few thousand columns the generated code blows the JVM's 64 KB method limit
#: and the plan becomes unserviceable long before the data does. The
#: reference's real-world catalogs are tens of series; anything near this cap
#: means the caller forgot to filter the catalog, so fail fast with a clear
#: message instead of generating a 10k-column plan (SURVEY.md §7.4 item 1).
MAX_PIVOT_WIDTH = 2000


class PivotWidthError(ValueError):
    """Raised when a pivot would create more columns than MAX_PIVOT_WIDTH."""


def pivot_column_names(pairs: list[tuple[str, int]]) -> dict[tuple[str, int], str]:
    """Deterministic duplicate-column disambiguation (A3;
    DatasetUtilities.py:296-335): first occurrence keeps the bare
    VariableCode, later occurrences of the same code under a different
    MethodID get '-1', '-2', … suffixes in catalog order."""
    seen: dict[str, int] = {}
    names: dict[tuple[str, int], str] = {}
    for code, method in pairs:
        n = seen.get(code, 0)
        names[(code, method)] = code if n == 0 else f"{code}-{n}"
        seen[code] = n + 1
    return names


def pivot_wide(
    dv: DataFrame,
    index_cols: list[str],
    pairs: list[tuple[str, int]],
    agg: str = "first",
) -> DataFrame:
    """A1 + A3 + A4: pivot on (variable, method) with explicit values and
    flat, disambiguated output column names.

    ``agg='first'`` reproduces the reference's ``pivot_table`` default for
    the one-value-per-cell case (order-dependent when a cell has several
    values — same caveat as the reference); 'avg'/'sum' are exposed for
    rollup-style wide exports.

    Implementation note: this is conditional aggregation, NOT
    ``DataFrame.pivot``. Spark's pivot lowers to a two-phase aggregate
    (shuffle on (index, pivot_key), then shuffle on (index)); with the
    pivot values known up front, one ``agg`` of per-pair conditionals does
    the same work in a SINGLE shuffle with map-side partials — half the
    exchange volume at 100 TB — and has no pivot-cardinality cap to trip.
    """
    if len(pairs) > MAX_PIVOT_WIDTH:
        raise PivotWidthError(
            f"pivot would create {len(pairs)} columns (cap {MAX_PIVOT_WIDTH}). "
            "A matrix this wide almost always means the series catalog was not "
            "filtered to the export's site/variable selection. Filter `pairs` "
            "(e.g. to one site's series) or raise reshape.MAX_PIVOT_WIDTH "
            "explicitly if a wider export is intended."
        )
    names = pivot_column_names(pairs)
    agg_fn = {
        "first": lambda c: F.first(c, ignorenulls=True),
        "avg": F.avg,
        "sum": F.sum,
    }[agg]
    agg_cols = []
    for code, method in pairs:
        cell = F.when(
            (F.col("VariableCode") == F.lit(code)) & (F.col("MethodID") == F.lit(method)), F.col("DataValue")
        )
        agg_cols.append(agg_fn(cell).alias(names[(code, method)]))
    return dv.groupBy(*index_cols).agg(*agg_cols)


def fill_no_data(wide: DataFrame, no_data_by_column: dict[str, float]) -> DataFrame:
    """Per-column sentinel fill (A2; DatasetUtilities.py:171-181).

    Applied only at the sink boundary — internal frames keep NULL so QC math
    never sees -9999 (SURVEY.md §7.4 item 5). Names are backtick-quoted:
    a column named after a free-text VariableCode may contain a dot.
    """
    quoted = {"`" + c.replace("`", "``") + "`": v for c, v in no_data_by_column.items() if c in wide.columns}
    return wide.fillna(quoted)


def sort_matrix(wide: DataFrame, index_cols: list[str]) -> DataFrame:
    """O3: sort the pivoted matrix by its time index (sort_index analog).

    A global ``orderBy`` is a range-partition exchange; for file export the
    caller typically coalesces to one partition afterwards (files are small
    by construction — one per (site, source, QC, year) chunk).
    """
    return wide.orderBy(*index_cols)
