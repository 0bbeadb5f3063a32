#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's
median and spread (quartile distance as a share of the median), next to
its bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload meter_read [--runs 10] [--first-seed 1]

Run from the root of a checkout. Every run's result line is appended to
perfbench/out/spread-<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = str(spec["run_seconds"])
    log = HERE / "out" / f"spread-{a.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line.startswith("{"):
            print(f"seed {seed}: run failed (exit {p.returncode})")
            return 1
        res = json.loads(line)
        with log.open("a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        share = (q[2] - q[0]) / med
        print(f"{m['name']:16s} median {med:10.4g}  spread {share:6.3f}  bound {m['bound']}"
              f"{'  (over a third of the bound)' if share > m['bound'] / 3 else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
