"""Tests: CLI surface end-to-end."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from h2outility_spark.sources.parquet import load_table
from tests.conftest import SF_DIR


def test_cli_export(spark, tmp_path):
    from h2outility_spark.__main__ import main

    spec = [{"name": "site13", "site_id": 13, "qc_id": 0, "single_file": True}]
    spec_path = str(tmp_path / "resources.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    out = str(tmp_path / "out")
    rc = main(["export", "--resources", spec_path, "--data", SF_DIR, "--out", out])
    assert rc == 0
    files = os.listdir(out)
    assert len(files) == 1 and files[0].endswith(".csv")


def test_cli_qc_apply(spark, tmp_path):
    from h2outility_spark.__main__ import main

    plan = [
        {"op": "select_value_threshold", "args": {"op": ">", "threshold": 150.0}},
        {"op": "change_value", "args": {"op": "=", "operand": 150.0}},
    ]
    plan_path = str(tmp_path / "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    out = str(tmp_path / "capped")
    rc = main(["qc-apply", "--plan", plan_path, "--data", SF_DIR, "--out", out])
    assert rc == 0
    capped = spark.read.parquet(out)
    assert capped.agg(F.max("DataValue")).collect()[0][0] <= 150.0


def test_cli_tx_upsert_idempotent(spark, tmp_path, capsys):
    """The cron-able transactional merge: first run materializes all
    events; an immediate re-run drains nothing new (checkpoint) and leaves
    the table version unchanged."""
    from h2outility_spark.__main__ import main
    from h2outility_spark.storage_tx import TxTable

    tdir = str(tmp_path / "tx")
    ckpt = str(tmp_path / "ckpt")
    rc = main(["tx-upsert", "--data", SF_DIR, "--table", tdir, "--checkpoint", ckpt])
    assert rc == 0
    table = TxTable(spark, tdir, key_cols=["event_id"])
    n_events = load_table(spark, SF_DIR, "events").count()
    assert table.snapshot().count() == n_events
    v1 = table.latest_version()

    rc = main(["tx-upsert", "--data", SF_DIR, "--table", tdir, "--checkpoint", ckpt])
    assert rc == 0
    assert table.latest_version() == v1  # nothing new -> no new commit
    assert table.snapshot().count() == n_events

    rc = main(["tx-history", "--table", tdir])
    assert rc == 0
    assert "'op': 'merge'" in capsys.readouterr().out


def test_cli_query_and_explain(spark, tmp_path, capsys):
    from h2outility_spark.__main__ import main

    rc = main(["queries"])
    assert rc == 0
    names = capsys.readouterr().out
    assert "tpch_q1" in names and "pq_search" in names

    out = str(tmp_path / "q1_out")
    rc = main(["query", "tpch_q1", "--data", SF_DIR, "--out", out])
    assert rc == 0
    assert spark.read.parquet(out).count() == 6

    rc = main(["explain", "tpch_q1", "--data", SF_DIR])
    assert rc == 0
    plan = capsys.readouterr().out
    assert "PushedFilters" in plan and "HashAggregate" in plan

    rc = main(["query", "no_such_query", "--data", SF_DIR])
    assert rc == 2


def test_cli_tx_compact(spark, tmp_path, capsys):
    """Maintenance subcommand: fragment a table with small appends, then
    tx-compact merges the files and vacuums the fragments."""
    from pyspark.sql import Row

    from h2outility_spark.__main__ import main
    from h2outility_spark.storage_tx import TxTable

    tdir = str(tmp_path / "tx")
    table = TxTable(spark, tdir, key_cols=["k"])
    for i in range(5):
        table.append(
            spark.createDataFrame([Row(k=i * 10 + j, v=f"v{i}") for j in range(10)], "k int, v string")
        )
    assert len(table.files()) >= 5
    rows_before = sorted(r["k"] for r in table.snapshot().collect())

    rc = main(["tx-compact", "--table", tdir, "--key", "k", "--target-rows", "1000",
               "--vacuum-keep", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted" in out
    assert len(table.files()) == 1
    assert sorted(r["k"] for r in table.snapshot().collect()) == rows_before

    # healthy table: second run is a clean no-op
    rc = main(["tx-compact", "--table", tdir, "--key", "k", "--target-rows", "1000"])
    assert rc == 0
    assert "nothing to compact" in capsys.readouterr().out


def test_cli_tx_describe(spark, tmp_path, capsys):
    import json

    from pyspark.sql import Row

    from h2outility_spark.__main__ import main
    from h2outility_spark.storage_tx import TxTable

    tdir = str(tmp_path / "dt")
    t = TxTable(spark, tdir, key_cols=["event_id"])
    t.append(spark.createDataFrame([Row(event_id=i, v=float(i)) for i in range(50)]))
    rc = main(["tx-describe", "--table", tdir])
    assert rc == 0
    d = json.loads(capsys.readouterr().out)
    assert d["rows"] == 50 and d["n_files"] >= 1 and d["op"] == "append"
