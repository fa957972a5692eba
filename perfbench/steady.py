#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed,
and print every metric's median, quartiles and relative spread (the
distance between the first and third quartile over the median, as
statistics.quantiles(values, n=4) gives them).

    python3 perfbench/steady.py --workload batch --runs 10 [--seed0 1]
        [--seconds 10] [--trace 0]

For the end-to-end metrics it also shows each metric's bound from
BENCHMARK.json and whether the spread stays under a third of it. The
record lines of all runs are kept in .perfbench/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]

    records = []
    log = os.path.join(ROOT, ".perfbench", f"steady-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for i in range(a.runs):
        seed = a.seed0 + i
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.exit(f"run with seed {seed} failed (exit {p.returncode})")
        rec, final = json.loads(lines[-2]), json.loads(lines[-1])
        records.append(rec)
        with open(log, "a") as f:
            f.write(json.dumps(rec) + "\n")
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in final["metrics"].items()
                         if k in bounds)
        print(f"seed {seed}: correct={final['correct']} failed={final['failed']}"
              f"/{final['attempted']} {shown}", flush=True)

    key = "per_layer" if a.trace else "metrics"
    print(f"\n{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}"
          f" {'bound':>6}  ok")
    for name in records[0][key]:
        vals = [r[key][name]["value"] for r in records]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        ok = "" if b is None else ("yes" if spread < b / 3 else "NO")
        print(f"{name:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f}"
              f" {'' if b is None else b:>6}  {ok}")
    bad = sum(r["failed"] for r in records)
    print(f"\n{len(records)} runs, {bad} failed ops in total")


if __name__ == "__main__":
    main()
