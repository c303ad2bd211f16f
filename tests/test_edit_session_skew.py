"""Tests: interactive edit-session facade (record/replay/rollback/save) and
skew-safe salted aggregation/join equivalence."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from h2outility_spark.edit_session import EditSession
from h2outility_spark.operators import skew
from h2outility_spark.sources.parquet import load_table
from tests.conftest import SF_DIR

T0 = datetime(2024, 1, 1)


DV_TEST_SCHEMA = (
    "ValueID long, SiteID int, VariableID int, MethodID int, SourceID int, "
    "QualityControlLevelID int, LocalDateTime timestamp, DataValue double, QualifierID int"
)


def dv_frame(spark):
    rows = [
        (i, 1, 7, 1, 1, 0, T0 + timedelta(hours=i), v, None)
        for i, v in enumerate([10.0, 300.0, 310.0, 12.0, 11.0])
    ]
    return spark.createDataFrame(rows, DV_TEST_SCHEMA)


KEYS = ["SiteID", "VariableID", "MethodID", "SourceID", "QualityControlLevelID"]


def test_session_edit_rollback_save(spark):
    store = dv_frame(spark)
    s = EditSession(store, KEYS)
    s.select_value_threshold(">", 100.0).change_value("-", 250.0).flag(4)
    edited = {r["ValueID"]: r for r in s.frame().collect()}
    assert edited[1]["DataValue"] == 50.0 and edited[1]["QualifierID"] == 4
    assert edited[0]["DataValue"] == 10.0 and edited[0]["QualifierID"] is None

    # W9: rollback is free — source never mutated
    assert s.recorded_script()[0]["op"] == "select_value_threshold"
    s.restore()
    assert [r["DataValue"] for r in s.frame().orderBy("ValueID").collect()][1] == 300.0

    # Save: edits replace rows in the store by logical id
    s.select_value_threshold(">", 100.0).change_value("=", -1.0)
    new_store, catalog = s.save(store)
    vals = {r["ValueID"]: r["DataValue"] for r in new_store.collect()}
    assert vals[1] == -1.0 and vals[2] == -1.0 and vals[0] == 10.0
    cat = catalog.collect()[0]
    assert cat["ValueCount"] == 5
    s.close()


def test_session_save_as_new_series(spark):
    """Save As (W8) is the plan's ``reversion_series`` step: the recorded
    edits plus a re-keying op, upserted beside the original series."""
    from h2outility_spark.operators import mutation, qc
    from h2outility_spark.operators.catalog import derive_catalog
    from h2outility_spark.plans import oplist

    store = dv_frame(spark)
    s = EditSession(store, KEYS)
    s.select_value_threshold(">", 100.0).interpolate()
    plan = s.recorded_script() + [
        {"op": "reversion_series", "args": {"new_keys": {"QualityControlLevelID": 1}}}
    ]
    edited = oplist.apply_plan(store, plan, keys=KEYS).drop(qc.SEL)
    new_store = mutation.upsert(store, edited, keys=["ValueID", *KEYS])
    # W8 re-version: original 5 rows intact + 5 new QC-1 rows
    assert new_store.count() == 10
    assert new_store.filter(F.col("QualityControlLevelID") == 1).count() == 5
    assert derive_catalog(edited, keys=KEYS).collect()[0]["QualityControlLevelID"] == 1
    s.close()


def test_session_save_to_txtable_with_history(spark, tmp_path):
    """W8/W9 with real commit semantics: save commits a MERGE version,
    a bad save is rolled back with restore(), and history records both."""
    from h2outility_spark.storage_tx import TxTable

    store = dv_frame(spark)
    table = TxTable(spark, str(tmp_path / "dv"), key_cols=["ValueID"])
    table.append(store)

    s = EditSession(store, KEYS)
    s.select_value_threshold(">", 100.0).change_value("=", -1.0)
    v = s.save_to_table(table)
    vals = {r["ValueID"]: r["DataValue"] for r in table.snapshot().collect()}
    assert vals[1] == -1.0 and vals[2] == -1.0 and vals[0] == 10.0
    assert table.snapshot().count() == 5  # merge, not append

    # the pre-save state is still readable, and restore() rolls back
    prev = {r["ValueID"]: r["DataValue"] for r in table.snapshot(version=v - 1).collect()}
    assert prev[1] == 300.0
    table.restore(v - 1)
    assert {r["ValueID"]: r["DataValue"] for r in table.snapshot().collect()}[1] == 300.0
    assert [h["op"] for h in table.history()] == ["append", "merge", "restore"]
    s.close()


def test_salted_agg_matches_plain(spark):
    ev = load_table(spark, SF_DIR, "events")
    plain = {
        r["event_type"]: (r["n"], round(r["s"], 4))
        for r in ev.groupBy("event_type").agg(F.count("value").alias("n"), F.sum("value").alias("s")).collect()
    }
    salted = {
        r["event_type"]: (r["n"], round(r["s"], 4))
        for r in skew.salted_agg(
            ev, ["event_type"], {"n": ("count", "value"), "s": ("sum", "value")}, F.col("event_id")
        ).collect()
    }
    assert plain == salted

