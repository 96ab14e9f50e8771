#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload, one run at a time,
and prints each end-to-end metric's median and spread: (Q3 - Q1) /
median, quartiles as ``statistics.quantiles(values, n=4)`` gives them.

    python3 graftbench/steadiness.py --seeds 1-10 [--workloads a,b] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", a.trace], capture_output=True, text=True, cwd=ROOT)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(last)
            print(f"{w} seed {s} ({time.time() - t0:.0f} s): "
                  f"correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            print(f"  {w} {k}: median={med:.4g} spread={spread:.3f}"
                  + (f" bound={b} ({'ok' if spread <= b / 3 else 'WIDE'})"
                     if b else ""), flush=True)


if __name__ == "__main__":
    main()
