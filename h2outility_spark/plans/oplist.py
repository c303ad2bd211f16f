"""Serializable QC operation lists (the record/replay surface).

The reference logs every interactive edit as a replayable Python script
(``odmservices/record_service.py:14-176`` in /root/reference) and persists
job specs as JSON (``Common.py:46-58``, ``H2OServices.py:350-395``). The
Spark-native form: a JSON list of named operations that compiles onto a
DataFrame as a chain of pure transforms. Because every QC operator is a
pure ``DataFrame → DataFrame`` function, a recorded plan IS its replay —
and Catalyst sees the whole composed plan, so recording costs nothing.

Example plan::

    [
      {"op": "select_value_threshold", "args": {"op": ">", "threshold": 100}},
      {"op": "select_data_gaps", "args": {"amount": 6, "period": "hour", "compose": true}},
      {"op": "interpolate_selected", "args": {}},
      {"op": "flag_selected", "args": {"qualifier_id": 4}}
    ]
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame

from h2outility_spark.operators import qc

# Ops that need the series keys get them injected from the plan context.
_KEYED_OPS = {"select_data_gaps", "select_value_change", "selection_groups", "interpolate_selected", "drift_correct"}

OPS: dict[str, Callable] = {
    "select_value_threshold": qc.select_value_threshold,
    "select_date_window": qc.select_date_window,
    "select_points": qc.select_points,
    "select_data_gaps": qc.select_data_gaps,
    "select_value_change": qc.select_value_change,
    "selection_groups": qc.selection_groups,
    "interpolate_selected": qc.interpolate_selected,
    "drift_correct": qc.drift_correct,
    "change_value": qc.change_value,
    "flag_selected": qc.flag_selected,
    "reversion_series": qc.reversion_series,
}


def apply_plan(
    df: DataFrame,
    plan: list[dict],
    keys: list[str],
    ts: str = "LocalDateTime",
    value: str = "DataValue",
) -> DataFrame:
    """Compile a recorded op list onto ``df``. Unknown ops raise — a plan is
    a contract, not a suggestion."""
    out = df
    for step in plan:
        name = step["op"]
        if name not in OPS:
            raise ValueError(f"unknown QC op: {name!r}")
        args = dict(step.get("args", {}))
        fn = OPS[name]
        if name in _KEYED_OPS:
            args.setdefault("ts", ts)
            if name in {"select_value_change", "interpolate_selected", "drift_correct"}:
                args.setdefault("value", value)
            out = fn(out, keys, **args)
        else:
            if name in {"select_value_threshold", "change_value"}:
                args.setdefault("value", value)
            elif name in {"select_date_window", "select_points"}:
                args.setdefault("ts", ts)
            out = fn(out, **args)
    return out


def load_plan(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def save_plan(plan: list[dict], path: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(plan, f, indent=2)
    return path
