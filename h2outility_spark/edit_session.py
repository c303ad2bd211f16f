"""Interactive QC edit session — the EditService facade (SURVEY.md §3.3;
reference ``odmservices/edit_service.py`` + ``service_manager.py:95-97`` in
/root/reference).

The reference copies ONE series into in-memory SQLite and mutates it with
SQL UPDATEs; rollback is a DB transaction rollback. Spark-first inversion:

  * the working set is a cached DataFrame slice (``df.cache()`` replaces
    the :memory: database — S4);
  * every edit is a pure transform appended to a recorded op list
    (plans/oplist.py), so the session's state is (source frame, plan);
  * rollback (W9) = truncate the plan — the source is immutable;
  * save (W8/M1–M3) = apply the plan, optionally re-key into a new series,
    recompute the catalog row (G4), and upsert into the store.

Because the QC operators are key-generic, a "session" may hold ONE series
(reference semantics) or a whole selection of series at once — the same
edits apply per-series in parallel, which the reference fundamentally
could not do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from h2outility_spark.operators import mutation, qc
from h2outility_spark.operators.catalog import derive_catalog
from h2outility_spark.plans import oplist


class EditSession:
    def __init__(self, source: DataFrame, keys: list[str], series_filter=None):
        base = source.filter(series_filter) if series_filter is not None else source
        self._source = base.cache()
        self.keys = keys
        self.ts = "LocalDateTime"
        self.value = "DataValue"
        self.plan: list[dict] = []

    # --- recording -----------------------------------------------------------

    def _record(self, __op_name: str, **args) -> "EditSession":
        self.plan.append({"op": __op_name, "args": args})
        return self

    def select_value_threshold(self, op: str, threshold: float, compose: bool = False):
        return self._record("select_value_threshold", op=op, threshold=threshold, compose=compose)

    def select_date_window(self, before=None, after=None, compose: bool = False):
        return self._record("select_date_window", before=before, after=after, compose=compose)

    def select_points(self, id_list=None, datetime_list=None, compose: bool = False):
        return self._record("select_points", id_list=id_list, datetime_list=datetime_list, compose=compose)

    def select_data_gaps(self, amount: int, period: str = "hour", compose: bool = False):
        return self._record("select_data_gaps", amount=amount, period=period, compose=compose)

    def select_value_change(self, threshold: float, compose: bool = False):
        return self._record("select_value_change", threshold=threshold, compose=compose)

    def interpolate(self):
        return self._record("interpolate_selected")

    def drift_correct(self, gap_width: float):
        return self._record("drift_correct", gap_width=gap_width)

    def change_value(self, op: str, operand: float):
        return self._record("change_value", op=op, operand=operand)

    def flag(self, qualifier_id: int, qual_col: str = "QualifierID"):
        return self._record("flag_selected", qualifier_id=qualifier_id, qual_col=qual_col)

    # --- state ---------------------------------------------------------------

    def frame(self) -> DataFrame:
        """Current edited view: the recorded plan applied to the source."""
        return oplist.apply_plan(self._source, self.plan, self.keys, self.ts, self.value)

    def restore(self) -> "EditSession":
        """W9 rollback: drop all edits — the source was never mutated."""
        self.plan = []
        return self

    def recorded_script(self) -> list[dict]:
        """The record_service analog: the session's replayable op list."""
        return list(self.plan)

    # --- persistence (W8, M1–M3) ---------------------------------------------

    def save(self, store: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Apply edits and upsert into ``store``: the edited rows replace
        the same logical rows ("Save"; "Save As" is a plan's
        ``reversion_series`` step). Returns (new_store, new_catalog_rows).
        """
        edited = self.frame()
        if qc.SEL in edited.columns:
            edited = edited.drop(qc.SEL)
        id_cols = [c for c in ("ValueID", "value_id", "event_id") if c in edited.columns]
        upsert_keys = (id_cols[:1] + [k for k in self.keys if k in edited.columns]) or self.keys
        new_store = mutation.upsert(store, edited, keys=upsert_keys)
        catalog = derive_catalog(edited, keys=[k for k in self.keys if k in edited.columns], ts_col=self.ts)
        return new_store, catalog

    def save_to_table(self, table) -> int:
        """Transactional form of ``save``: MERGE the edited rows into a
        ``storage_tx.TxTable`` and return the committed version.

        This is the full reference semantics — ``commit()`` with history:
        the store's previous state stays readable (time travel), a bad
        save is undone with ``table.restore(version - 1)``, and concurrent
        editors never lost-update each other: editors with disjoint key
        ranges both commit, and editors with overlapping ranges still
        conflict explicitly (the reference leaned on RDBMS transactions for
        all three, ``edit_service.py:371-373``).
        """
        edited = self.frame()
        if qc.SEL in edited.columns:
            edited = edited.drop(qc.SEL)
        return table.merge_upsert(edited)

    def close(self) -> None:
        self._source.unpersist()
