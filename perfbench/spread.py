#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: several seeds, one workload.

    python3 perfbench/spread.py --workload serve-light --seeds 1-10 [--trace 0]

Runs ``run.py`` once per seed, then prints for every metric the median and
the distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``) — the figure each metric's ``bound``
in BENCHMARK.json is compared against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", default=None)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or str(bench["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", str(args.trace)],
            capture_output=True, text=True)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        result = json.loads(last)
        print(f"seed {seed}: exit {out.returncode} {last}", flush=True)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound {bound} {'within' if spread <= bound else 'OVER'}"
        print(f"{name:45s} median {med:14.4f} spread {spread:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
