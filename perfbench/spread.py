"""Repeat the benchmark and report how steady its end-to-end metrics are.

    python3 perfbench/spread.py --workloads batch_jobs query_mix --seeds 1 2 3 4 5 --sets 2

For each set, each workload runs once per seed, one process per run,
exactly as the single-run command. Per workload and metric it prints each
set's median and quartile spread (IQR / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) and, with two
or more sets, how far each later set's median moved from the first set's,
both against the metric's bound in BENCHMARK.json. ``--out`` keeps every
value as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _flag(x: float, bound: float) -> str:
    return "ok" if x < bound / 3 else ("WIDE" if x > bound else "near")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None, help="write every value to this JSON file")
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    # values[set][workload][metric] -> one value per seed
    values: list[dict] = []
    for s in range(args.sets):
        values.append({})
        for wl in args.workloads:
            per = values[s].setdefault(wl, {})
            for seed in args.seeds:
                t0 = time.perf_counter()
                out = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                     "--seconds", str(args.seconds), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True,
                )
                if out.returncode != 0:
                    sys.exit(f"set {s + 1} {wl} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
                result = json.loads(out.stdout.strip().splitlines()[-1])
                if not result["correct"]:
                    sys.exit(f"set {s + 1} {wl} seed {seed}: incorrect: {result}")
                for name, m in result["metrics"].items():
                    per.setdefault(name, []).append(m["value"])
                print(f"set {s + 1} {wl} seed {seed} ({time.perf_counter() - t0:.0f} s): "
                      + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
                      flush=True)
    for wl in args.workloads:
        for name, m in metrics.items():
            meds = []
            line = f"{wl:15s} {name:17s}"
            for s in range(args.sets):
                vals = values[s][wl][name]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                meds.append(med)
                spread = (q3 - q1) / med
                line += f" | set{s + 1} median {med:10.4f} spread {spread:6.3f} {_flag(spread, m['bound'])}"
            for s in range(1, args.sets):
                worse = (meds[s] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                line += f" | drift{s + 1} {worse:+6.3f} {_flag(max(worse, 0.0), m['bound'])}"
            print(f"{line} | bound {m['bound']:.2f}")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump({"seeds": args.seeds, "seconds": args.seconds, "values": values}, f)


if __name__ == "__main__":
    main()
