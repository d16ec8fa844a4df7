#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, from the repository root:

    python3 perfbench/spread.py --workload stream_drain --runs 10 [--first-seed 1]

Runs the benchmark once per seed (first-seed, first-seed+1, ...) and
prints, per metric, the median, the interquartile range as a share of
the median (``statistics.quantiles(values, n=4)``) and that share
against the metric's bound from BENCHMARK.json. Raw results go to
``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_path = os.path.join(".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(".perfbench", exist_ok=True)
    rows = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        rows.append(res)
        with open(out_path, "a") as f:
            f.write(json.dumps(res) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed} wall={wall:.1f}s correct={res['correct']} {vals}", flush=True)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        share = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:18s} median={med:.4g} iqr/median={share:.3f} "
              f"bound={m['bound']} ({share / m['bound']:.2f} of bound)")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in rows):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
