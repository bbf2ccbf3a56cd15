#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each named workload, one run at a
time, and prints for every metric its median and the distance between
the first and third quartile as a share of the median, next to a third
of the metric's bound from BENCHMARK.json (the target for a steady
benchmark). Run from the root of a checkout:

    python3 perfbench/spread.py --workloads omop_pipeline --seeds 1 2 3 4 5
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_cache", "spread.jsonl"))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    worst = 0.0
    for wl in args.workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in args.seeds:
            t0 = time.time()
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL, text=True, check=True)
            result = json.loads(res.stdout.strip().splitlines()[-1])
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed, **result}) + "\n")
            for m in values:
                values[m].append(result["metrics"][m]["value"])
            print(f"{wl} seed {seed}: {time.time() - t0:.0f} s, correct={result['correct']} "
                  + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        for m, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            if m != "setup_s":
                worst = max(worst, spread / bounds[m])
            print(f"  {wl} {m}: median {med:.4g} spread {spread:.4f} "
                  f"(a third of the bound: {bounds[m] / 3:.4f})")
    print(f"largest spread as a share of its bound (setup_s excluded): {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
