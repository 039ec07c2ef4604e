#!/usr/bin/env python3
"""Crawl + query-library benchmark for torspider_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 5 \
        --trace 0

This launcher fits the run to the host, then starts three processes one
after the other, each only after the previous one ended:

1. ``inputs.py`` builds what is missing of the seeded inputs and expected
   outputs (corpus, simulator expectation, DuckDB oracle results); they
   are cached per seed;
2. SESSION_PROBES session probe(s) (``measure.py --probe``), each timing
   process launch to Spark session up;
3. the measured process (``measure.py``), which runs the workload, checks
   its outputs and prints the result as the last stdout line.

The measured process never follows input generation in-process, and
``setup_s`` takes the median session start over the probes and the
measured process.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"
SESSION_PROBES = 1


# -- host fitting ----------------------------------------------------------


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    ram_gb = mem_kb / 1024 / 1024
    # A quarter of RAM, between 1 and 4 GB: the program's 16g default is
    # larger than small hosts, and the JVM shares the host.
    heap_gb = max(1, min(4, int(ram_gb // 4)))
    return {"cores": cores, "ram_gb": round(ram_gb, 1),
            "heap": f"{heap_gb}g", "python": platform.python_version()}


def fit_environment(host: dict, work: str) -> None:
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["heap"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(
        os.path.join(work, "spark-local"))
    # Everything the program writes through tempfile stays in the checkout.
    os.environ["TMPDIR"] = os.path.abspath(os.path.join(work, "tmp"))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def source_version() -> dict:
    """git sha when the tree is a git checkout, plus a content hash of the
    program's sources (benchmark checkouts are not git repositories)."""
    from inputs import source_hash

    out = {"git_sha": None}
    try:
        out["git_sha"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    out["tree_sha1"] = source_hash()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "torspider_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (torspider_spark/ "
              "and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    import inputs

    work = os.path.abspath(WORK)
    fit_environment(host_info(), work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    paths = inputs.input_paths(args.workload, args.seed, work)
    if not (os.path.exists(paths["done"])
            and os.path.exists(paths["oracle"])):
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                        "--workload", args.workload, "--seed",
                        str(args.seed), "--work", work], check=True)
    measure = [sys.executable, os.path.join(HERE, "measure.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
    sessions = []
    for _ in range(SESSION_PROBES):
        out = subprocess.run(measure + ["--probe", "--t0", repr(time.time())],
                             stdout=subprocess.PIPE, text=True, check=True)
        sessions.append(json.loads(out.stdout.splitlines()[-1])["session_s"])
    return subprocess.run(measure + [
        "--session-samples", ",".join(map(repr, sessions)),
        "--t0", repr(time.time())]).returncode


if __name__ == "__main__":
    sys.exit(main())
