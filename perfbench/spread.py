#!/usr/bin/env python3
"""Runs one workload over several seeds and prints, per metric, the median
and the quartile spread (Q3 - Q1) / median, as statistics.quantiles(n=4)
gives the quartiles.

    python3 perfbench/spread.py --workload spatial_reads --seeds 1-10 [--trace 0]

Run it from the repository root; each run goes through perfbench/run.py.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="range a-b, inclusive")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({time.time() - t0:.0f}s): " + json.dumps(
            {k: round(v["value"], 4) for k, v in result["metrics"].items()}), flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    for name, vs in sorted(values.items()):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median {med:14.4f}  spread {spread:7.4f}  bound {bounds.get(name)}")


if __name__ == "__main__":
    main()
