"""Smoke run of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload once, traced, on the smallest fixture tables and
asserts that the run is correct, that every end-to-end metric of
BENCHMARK.json, ``cold_pass_s``, ``op_p90_s``, ``op_p50_s``,
``peak_rss_mb`` and ``fail_ratio`` is printed by name with its unit, and that the final JSON line carries every
per-layer metric with its unit.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    printed_metrics = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    printed_metrics += [("cold_pass_s", "s"), ("op_p90_s", "s"), ("op_p50_s", "s"),
                        ("peak_rss_mb", "MB"), ("fail_ratio", "ratio")]
    for wl in (w["name"] for w in bench["workloads"]):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "7",
             "--seconds", "0", "--trace", "1", "--sf", "0.001"],
            cwd=ROOT, capture_output=True, text=True,
        )
        assert out.returncode == 0, f"{wl}: exit {out.returncode}\n{out.stderr[-3000:]}"
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        assert result["correct"] and result["failed"] == 0, f"{wl}: {result}"
        printed = {tuple(line.split()[1:4:2]) for line in lines[:-1] if line.startswith(wl)}
        for name, unit in printed_metrics:
            assert (name, unit) in printed, f"{wl}: {name} [{unit}] not printed"
        for m in bench["per_layer"]:
            got = result["metrics"].get(m["name"])
            assert got is not None and got["unit"] == m["unit"], f"{wl}: {m['name']} missing"
        print(f"{wl}: ok ({result['attempted']} checks and operations)")


if __name__ == "__main__":
    main()
