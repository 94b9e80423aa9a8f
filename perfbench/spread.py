#!/usr/bin/env python3
"""Run a workload under several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload repo_resume --runs 10 [--first-seed 1]

Spread is the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median. Each run
is a separate process, as the benchmark command is; the per-run results
and wall-clock seconds are appended as JSON lines to --out.
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
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=".perfbench_work/spread.jsonl")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open("BENCHMARK.json") as f:
            seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    fail_share = set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        elapsed = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        res = json.loads(lines[-1])
        fail_share.add(res["failed"] / res["attempted"])
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "elapsed": elapsed, **res}) + "\n")
        print(f"seed {seed}: {elapsed:.1f}s correct={res['correct']} "
              f"{res['failed']}/{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"failed shares: {sorted(fail_share)}")
    for k, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{k:24s} median {med:.5g} spread {(q3 - q1) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
