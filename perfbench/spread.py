#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way the bounds in
BENCHMARK.json are checked: one run per seed, then for each metric the
distance between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median.

Usage (from the repository root):

    python3 perfbench/spread.py --workload crawl_volume --seeds 1-5
    python3 perfbench/spread.py --workload crawl_small --seeds 1-10 \
        --out perfbench/baseline/spread_crawl_small.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs = []
    for seed in parse_seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=600)
        wall = time.time() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1),
                          "correct": result["correct"], **{
            k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
            flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        summary[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": m["bound"], "within_third": spread < m["bound"] / 3}
        print(f"{m['name']:>20} median {med:10.4f}  spread {spread:6.3f}  "
              f"bound {m['bound']:.2f}  "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")
    if args.out:
        os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs,
                       "summary": summary}, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
