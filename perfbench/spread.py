#!/usr/bin/env python3
"""Runs one workload at several seeds and reports how much each metric spreads.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds <s>] [--trace 0|1]

Run it from the root of a checkout. For every metric it prints the median of
the runs and the distance between the first and third quartile as a share of
that median, next to a third of the metric's bound in BENCHMARK.json (the
margin a steady metric should keep). Each run's result line is appended to
.bench_build/perfbench/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    """(median, interquartile range over the median) as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def report(results, spec):
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    names = sorted({n for r in results for n in r["metrics"]})
    lines = []
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results if n in r["metrics"]]
        if len(vals) < 2:
            continue
        med, s = spread(vals)
        b = bounds.get(n)
        flag = "" if b is None or s <= b / 3 else "  above bound/3"
        lines.append(f"{n:36s} median {med:14.6g}  spread {s:7.2%}" +
                     (f"  bound/3 {b / 3:6.2%}" if b else "") + flag)
    return lines


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=seeds)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", default="0", choices=("0", "1"))
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(".bench_build", "perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    results = []
    for seed in args.seeds:
        proc = subprocess.run([sys.executable, os.path.join(here, "run.py"),
                               "--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", args.trace],
                              stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: run failed with code {proc.returncode}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        result["seed"] = seed
        results.append(result)
        with open(out_path, "a") as f:
            f.write(json.dumps(result) + "\n")
    print(f"{args.workload}: {len(results)} runs, seeds {args.seeds}")
    print("\n".join(report(results, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
