#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--trace 0|1]
        [--seconds S] [--out results.jsonl]

For every metric prints the median and the quartile spread, the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median: the figure a run-to-run bound must exceed. Uses
BENCHMARK.json's run_seconds unless --seconds is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(secs),
             "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        res = json.loads(out.splitlines()[-1])
        res["seed"] = seed
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if a.trace == 0), flush=True)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(res) + "\n")
    print(f"{'metric':<34} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:<34} {med:>12.5g} {spread:>8.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()
