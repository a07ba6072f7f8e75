#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and print, per
end-to-end metric, the median and the interquartile spread as a share of
the median (statistics.quantiles, n=4), next to the metric's bound.

    python3 perfbench/spread.py --workload batch_cycle --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int)
    opts = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    secs = opts.seconds or bench["run_seconds"]
    values = {}
    for s in seeds(opts.seeds):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", opts.workload,
                              "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                             capture_output=True, text=True)
        last = (out.stdout.strip().splitlines() or ["{}"])[-1]
        res = json.loads(last) if last.startswith("{") else {}
        print(f"seed {s}: {last}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, spread {(q[2] - q[0]) / med:.3f}"
              f" (bound {m['bound']}, n={len(xs)})")


if __name__ == "__main__":
    main()
