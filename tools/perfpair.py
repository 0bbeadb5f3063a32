#!/usr/bin/env python3
"""Interleaved parent/change A/B of one perfbench workload.

    python3 tools/perfpair.py --rev <parent rev> --workload <name> --seeds 21-30
        [--seconds 4] [--scratch DIR] [--traced]

Run from the root of a checkout: that checkout (its working tree) is the
change. The parent is `git clone`d once into a scratch directory outside the
checkout (default: <tmp>/perfpair-<sha>; an existing clone there is reused)
and checked out at `--rev`. For each seed, `perfbench/run.py --trace 0`
runs in both trees, the first one alternating from seed to seed,
so a drift of the host shows on both sides. Per end-to-end metric of
BENCHMARK.json it prints the parent and change medians, the parent's
quartile distance, and the number of pairs the change won; then the
`host.floor_ms_*` stamps of every run. With `--traced`, one `--trace 1` run
per tree follows (first seed, parent first), and each per-layer metric that
moved by more than 10% between them is printed with both values and their
ratio: where a saving or a cost appears. Every run's result is appended to
`<scratch>/perfpair-<workload>.jsonl`. Exits non-zero as soon as a run
fails or reports a failed output check. Nothing is written in the checkout
beyond what perfbench/run.py itself writes (its ignored build, work and
out/ directories).
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def clone(rev, scratch):
    sha = subprocess.run(["git", "-C", str(ROOT), "rev-parse", rev], check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    tree = Path(scratch) if scratch else Path(tempfile.gettempdir()) / f"perfpair-{sha[:12]}"
    if tree.resolve().is_relative_to(ROOT):
        raise SystemExit(f"the parent clone must live outside the checkout: {tree}")
    if not (tree / ".git").is_dir():
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", str(ROOT), str(tree)], check=True)
    subprocess.run(["git", "-C", str(tree), "checkout", "--quiet", "--force", sha], check=True)
    return tree


def run(tree, workload, seed, seconds, trace=0):
    """One run in `tree`: (result, host stamps)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    host = next((json.loads(l[len("host: "):]) for l in lines if l.startswith("host: ")), {})
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"{tree} seed {seed}: run failed (exit {p.returncode})")
    res = json.loads(lines[-1])
    if res["failed"]:
        raise SystemExit(f"{tree} seed {seed}: {res['failed']} output checks failed")
    return res, host


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rev", required=True, help="the parent revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or an inclusive range, e.g. 21-30")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--scratch", help="where to clone the parent (outside the checkout)")
    ap.add_argument("--traced", action="store_true",
                    help="then one traced run per tree, printing the per-layer metrics that moved > 10%%")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    parent = clone(a.rev, a.scratch)
    log = parent / f"perfpair-{a.workload}.jsonl"
    metrics = spec["end_to_end"]
    vals = {side: {m["name"]: [] for m in metrics} for side in ("parent", "change")}
    floors = {"parent": [], "change": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", parent), ("change", ROOT)]
        for side, tree in (order if i % 2 == 0 else order[::-1]):
            res, host = run(tree, a.workload, seed, seconds)
            with log.open("a") as f:
                f.write(json.dumps({"side": side, "seed": seed, "host": host, **res}) + "\n")
            for m in metrics:
                vals[side][m["name"]].append(res["metrics"][m["name"]]["value"])
            floors[side].append((host.get("floor_ms_before"), host.get("floor_ms_after")))
        print(f"seed {seed}: " + "  ".join(
            f"{m['name']} {vals['parent'][m['name']][-1]:.4g}->{vals['change'][m['name']][-1]:.4g}"
            for m in metrics), flush=True)
    n = len(vals["parent"][metrics[0]["name"]])
    print(f"\n{a.workload}, {n} pairs, parent {a.rev} vs change (working tree)")
    print(f"{'metric':14s} {'parent':>10s} {'change':>10s} {'ratio':>7s} {'parent IQR':>11s} {'won':>6s}")
    for m in metrics:
        p, c = vals["parent"][m["name"]], vals["change"][m["name"]]
        pm, cm = statistics.median(p), statistics.median(c)
        iqr = statistics.quantiles(p, n=4)[2] - statistics.quantiles(p, n=4)[0] if n > 1 else 0.0
        won = sum((y < x) if m["better"] == "lower" else (y > x) for x, y in zip(p, c))
        print(f"{m['name']:14s} {pm:10.4g} {cm:10.4g} {cm / pm if pm else float('nan'):7.3f} {iqr:11.4g} {won:3d}/{n}")
    for side in ("parent", "change"):
        print(f"floor_ms {side} (before/after): " + " ".join(f"{b}/{e}" for b, e in floors[side]))
    if a.traced:
        traced(parent, a.workload, seeds(a.seeds)[0], seconds, log)
    return 0


def traced(parent, workload, seed, seconds, log):
    """One traced run per tree; prints the per-layer metrics that moved by
    more than 10% (a metric at 0 on one side only counts as moved)."""
    got = {}
    for side, tree in (("parent", parent), ("change", ROOT)):
        res, host = run(tree, workload, seed, seconds, trace=1)
        with log.open("a") as f:
            f.write(json.dumps({"side": side, "seed": seed, "trace": 1, "host": host, **res}) + "\n")
        got[side] = {k: v["value"] for k, v in res["metrics"].items()}
    print(f"\n{workload} seed {seed}, traced: per-layer metrics that moved by more than 10%")
    print(f"{'metric':40s} {'parent':>12s} {'change':>12s} {'ratio':>7s}")
    for name in sorted(set(got["parent"]) & set(got["change"])):
        p, c = got["parent"][name], got["change"][name]
        if p is None or c is None or (p == c == 0):
            continue
        if p == 0 or abs(c / p - 1) > 0.10:
            print(f"{name:40s} {p:12.4g} {c:12.4g} {c / p if p else float('nan'):7.3f}")


if __name__ == "__main__":
    sys.exit(main())
