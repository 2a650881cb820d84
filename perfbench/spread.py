#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs one workload once per
seed and prints, per metric, the median and the distance between the first
and third quartiles as a share of the median, next to the metric's bound.

Usage, from the root of a checkout:
    python3 perfbench/spread.py <workload> <first seed> <runs>
"""
import json
import statistics
import subprocess
import sys
import time


def main():
    workload, seed0, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spec = json.load(open("BENCHMARK.json"))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(seed0, seed0 + runs):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        env = next((json.loads(x[5:]) for x in lines if x.startswith("env: ")), {})
        if not res["correct"]:
            print(f"seed {seed}: {res['failed']} of {res['attempted']} ops failed")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed} ({time.time() - t0:.0f} s, steal {env.get('cpu_steal_share', 0):.3f}): "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{workload} {m['name']}: median {med:.4g} {m['unit']}, "
              f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")


if __name__ == "__main__":
    main()
