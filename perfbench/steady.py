#!/usr/bin/env python3
"""Run one workload on several seeds and report how steady each metric is.

    python3 perfbench/steady.py --workload pipeline_hourly --runs 10 --first-seed 1

For every metric of the last JSON line, prints the median of the runs and
the quartile spread (Q3 - Q1 of `statistics.quantiles(n=4)`, as a share of
the median), beside the metric's bound from BENCHMARK.json and a third of
it.  Runs are serial; each is a separate `run.py` process.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            check=True, capture_output=True, text=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        print("seed %d: correct=%s failed=%d/%d" % (
            seed, result["correct"], result["failed"], result["attempted"]), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        s = stats.spread(vs)
        print("%-30s median %12.4f spread %.4f bound %.2f %s" % (
            k, stats.median(vs), s, bounds[k],
            "ok" if s < bounds[k] / 3 else "over a third of the bound"))
        print("  " + " ".join("%.4f" % v for v in vs))


if __name__ == "__main__":
    main()
