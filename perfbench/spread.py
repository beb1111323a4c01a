#!/usr/bin/env python3
"""Run workloads on several seeds and print, per end-to-end metric, the median
and the quartile spread (Q3 - Q1) / median next to the metric's bound.

    python3 perfbench/spread.py serve attack --seeds 1-10 [--seconds N]

A spread above a third of its bound is flagged: two sets of runs of the same
code could then disagree by more than the bound.
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
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="+", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workloads:
        values = {m: [] for m in bounds}
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                               capture_output=True, text=True, cwd=ROOT)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{w} seed {s}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", flush=True)
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        print(f"\n{w}: {'metric':30s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread < bounds[m] / 3 else "  <-- above bound/3"
            print(f"{w}: {m:30s} {med:12.4f} {spread:8.3f} {bounds[m]:6.2f}{flag}")
        print()


if __name__ == "__main__":
    main()
