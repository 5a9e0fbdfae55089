#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 as a share of the median), next to a
third of the metric's bound from BENCHMARK.json.

    python3 benchmark/spread.py --workload chess-daily --seeds 1-10

Each run's result line is appended to benchmark/.run/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    log = os.path.join(BENCH, ".run", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for seed in seeds(args.seeds):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        result = json.loads(last) if last.startswith("{") else {}
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "rc": p.returncode, "result": result}) + "\n")
        if p.returncode != 0 or not result.get("correct"):
            print(f"seed {seed}: run failed (rc {p.returncode})", file=sys.stderr)
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in sorted(result["metrics"].items())),
              flush=True)
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:<22} median {statistics.median(xs):.4g} {m['unit']:<8} "
              f"spread {(q3 - q1) / statistics.median(xs):.3f}  (bound/3 {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
