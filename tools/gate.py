#!/usr/bin/env python3
"""Paired bench-gate measurement — one JSON line, one session.

Runs the three legs the perf gate is defined over, back-to-back on the
same host so host noise hits all of them alike:

  1. warm Spark bench        (stage cache ON  — cross-query reuse)
  2. stage-cold Spark bench  (GRAFT_STAGE_CACHE=0 — every query pays
                              its own stages)
  3. DuckDB oracle bench     (tools/duckbench.py on the same parquet)

and emits ONE JSON line with totals, ratios, and the floor sanity
numbers. A leg whose Bench self-reported `noisy` flag is set (trivial-
job floor inflated beyond the quiet band) is re-run up to --retries
times; if it never quiets down the sample is emitted with
"quiet": false — read no regression into such a sample (one r16 cold
outlier was host contention inflating EVERY query 2-4x).

Usage: python3 tools/gate.py <sfDir> <verifyOutDir> [outFile]
  <verifyOutDir> must hold oracle_sql.json (any Verify dump).
  Default outFile: GATE.json in the repo root.
"""
import json
import os
import pathlib
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
QUIET_FLOOR_MS = 200.0  # noise discipline: a floor >=200 ms = contention


def run_bench(sf_dir, cold, retries):
    """One Spark bench leg via sbt batch; returns parsed bench_last.json."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env["SPARK_GRAFT_CPUS"] = env.get("SPARK_GRAFT_CPUS", "32")
    env["GRAFT_STAGE_CACHE"] = "0" if cold else "1"
    last = None
    for attempt in range(retries + 1):
        t0 = time.monotonic()
        subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"],
            cwd=REPO, env=env, check=True,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        wall = time.monotonic() - t0
        with open(REPO / "bench_last.json") as f:
            last = json.load(f)
        last["leg_wall_sec"] = round(wall, 1)
        floors = [last.get("floor_ms_before", 0), last.get("floor_ms_after", 0)]
        if not last.get("noisy") and max(floors) < QUIET_FLOOR_MS:
            return last, True
        print(f"[gate] {'cold' if cold else 'warm'} leg noisy "
              f"(floor {last.get('floor_ms_before')}/{last.get('floor_ms_after')} ms), "
              f"retry {attempt + 1}/{retries}", file=sys.stderr)
    return last, False


def run_duck(sf_dir, verify_out):
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "duckbench.py"), sf_dir, verify_out],
        check=True, capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    verify_out = sys.argv[2]
    out_file = sys.argv[3] if len(sys.argv) > 3 else str(REPO / "GATE.json")
    retries = int(os.environ.get("GATE_RETRIES", "2"))

    warm, warm_quiet = run_bench(sf_dir, cold=False, retries=retries)
    cold, cold_quiet = run_bench(sf_dir, cold=True, retries=retries)
    duck = run_duck(sf_dir, verify_out)

    duck_total = duck["value"]
    sample = {
        "sf": sf_dir,
        "warm_sec": round(warm["value"], 2),
        "cold_sec": round(cold["value"], 2),
        "duckdb_sec": round(duck_total, 2),
        "warm_ratio": round(warm["value"] / duck_total, 3),
        "cold_ratio": round(cold["value"] / duck_total, 3),
        "warm_floor_ms": [warm.get("floor_ms_before"), warm.get("floor_ms_after")],
        "cold_floor_ms": [cold.get("floor_ms_before"), cold.get("floor_ms_after")],
        "quiet": bool(warm_quiet and cold_quiet),
        # null when either leg omitted the key — a -1 sentinel could mask a
        # real failure on the other leg (e.g. -1 + 1 == 0 reads as clean)
        "n_failed": (warm["n_failed"] + cold["n_failed"]
                     if "n_failed" in warm and "n_failed" in cold else None),
        "pass_2x": warm["value"] / duck_total <= 2.0 and cold["value"] / duck_total <= 2.0,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        # per-query cold-vs-duck residue, slowest first, for the lever list
        "cold_residue_top": sorted(
            ((n, round(cold["queries"][n] - duck["queries"].get(n, 0.0), 2))
             for n in cold.get("queries", {})),
            key=lambda kv: -kv[1])[:8],
        # ...and the most-NEGATIVE residues: a query whose ORACLE is the
        # slow side flatters the total ratio while hiding in the
        # descending list (r18 lesson: q_ivfpq_topk's un-MATERIALIZED
        # oracle CTEs cost 36+ s of the duck leg and read as "host
        # noise"). Any entry below ~-1 s means inspect the oracle SQL,
        # not the engine.
        "cold_residue_bottom": sorted(
            ((n, round(cold["queries"][n] - duck["queries"].get(n, 0.0), 2))
             for n in cold.get("queries", {})),
            key=lambda kv: kv[1])[:8],
    }
    # APPEND (JSONL): one line per paired sample — keeping every sample
    # of a round is more honest than overwriting with the latest (host
    # windows swing the absolute legs ±20%; read the quiet-floor lines)
    line = json.dumps(sample)
    with open(out_file, "a") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
