#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload person_link --seed 1 --seconds 10 --trace 0

Run from the repository root: the package is imported from the working
directory and every file the run writes goes under `.perfbench_work/`.
With `--trace 0` the last line holds the end-to-end metrics; with
`--trace 1` it holds the per-layer metrics of one traced round, run between
two untraced rounds of the same process for the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

MB = 1e6
LAYERS = ("nodes", "blocking", "vectors", "score", "train", "cluster",
          "checkpoint", "match", "dedup", "ann")


def process_age() -> float:
    """Seconds since this process started (Linux /proc clock ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


WORKLOADS = {
    "person_link": ("wl_person", "PersonLink"),
    "repo_resume": ("wl_repo", "RepoResume"),
    "incoming_match": ("wl_match", "IncomingMatch"),
    "doc_near_dedup": ("wl_docs", "DocNearDedup"),
}


def end_to_end(rounds: list[dict], folds: dict, setup_s: float) -> dict:
    from sparkrun import merge

    timed = merge(folds, lambda g: g.startswith("bench|timed|"))
    lat = [x for r in rounds for x in r.get("latencies", [r["wall"]])]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(r["wall"] for r in rounds), "s"),
        "pairs_per_s": (statistics.median(r["pairs"] / r["rate_s"]
                                          for r in rounds), "pairs/s"),
        "match_latency_s": (statistics.median(lat), "s"),
        "disk_write_mb": ((timed["shuffle_write_b"] + timed["spill_b"]
                           + timed["output_b"]) / MB / len(rounds), "MB"),
    }


def per_layer(run, rnd: dict, untraced_wall: float, folds: dict) -> dict:
    from sparkrun import merge

    out: dict[str, tuple] = {}
    for layer in LAYERS:
        b = merge(folds, lambda g, L=layer: g in (f"bench|timed|{L}",
                                                   f"bench|setup|{L}"))
        out[f"{layer}.jobs"] = (b["jobs"], "count")
        out[f"{layer}.shuffle_mb"] = (b["shuffle_write_b"] / MB, "MB")
        out[f"{layer}.spill_mb"] = (b["spill_b"] / MB, "MB")
        out[f"{layer}.peak_mem_mb"] = (b["peak_mem_b"] / MB, "MB")
        out[f"{layer}.gc_s"] = (b["gc_s"], "s")
        out[f"{layer}.wall_s"] = (run.span_seconds(layer)
                                  + run.span_seconds(layer, phase="setup"), "s")
    vec = merge(folds, lambda g: g == "bench|timed|vectors")
    out["vectors.python_s"] = (vec["python_s"], "s")
    ck = merge(folds, lambda g: g == "bench|timed|checkpoint")
    out["checkpoint.write_mb"] = (ck["output_b"] / MB, "MB")
    scans = folds.get("bench|timed|checkpoint", {}).get("callsites", {})
    out["checkpoint.scan_jobs"] = (sum(n for site, n in scans.items()
                                       if site.endswith("plans/metrics.py")),
                                   "count")
    train_s = lambda n: run.span_seconds("train", n) + run.span_seconds(
        "train", n, phase="setup")
    out["train.u_wall_s"] = (train_s("u"), "s")
    out["train.em_wall_s"] = (train_s("em"), "s")
    out["dedup.minhash_wall_s"] = (run.span_seconds("dedup", "minhash"), "s")
    out["dedup.srp_wall_s"] = (run.span_seconds("dedup", "srp"), "s")
    m = merge(folds, lambda g: g == "bench|timed|match")
    n_req = max(rnd.get("requests", 0), 1)
    out["match.executor_s"] = (m["run_s"] / n_req, "s")
    out["match.shuffle_mb"] = (m["shuffle_write_b"] / MB / n_req, "MB")
    specific = {
        "nodes.rows": "count", "blocking.pairs": "count",
        "blocking.skew": "ratio", "train.u_pairs": "count",
        "train.em_iterations": "count", "train.em_patterns": "count",
        "cluster.rounds": "count", "cluster.edges": "count",
        "match.pairs_returned": "count",
        "dedup.candidates": "count", "dedup.kept_ratio": "ratio",
        "ann.recall": "ratio"}
    for name, unit in specific.items():
        out[name] = (rnd["layer"].get(name, 0), unit)
    out["trace.wall_s"] = (rnd["wall"], "s")
    out["trace.untraced_wall_s"] = (untraced_wall, "s")
    out["trace.overhead_pct"] = (100.0 * (rnd["wall"] / untraced_wall - 1), "%")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(
            root, "memory_optimized_splink_spark", "__init__.py")):
        print("run from the repository root: memory_optimized_splink_spark/ "
              "is not in the working directory", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    module, cls = WORKLOADS[args.workload]

    from sparkrun import Run

    run = Run(root, args.workload, trace=bool(args.trace))
    wl = getattr(importlib.import_module(module), cls)(run, args.seed)
    # the JVM starts in its own process while this one generates inputs
    with ThreadPoolExecutor(max_workers=1) as pool:
        started = pool.submit(run.start, root)
        info = wl.setup()
        started.result()
    print(f"inputs: workload={args.workload} seed={args.seed} "
          + " ".join(f"{k}={v}" for k, v in info.items()), flush=True)
    try:
        wl.warm_up()
        setup_s = process_age()
        rounds: list[dict] = []
        if args.trace:
            # untraced, traced, untraced: the JVM is still warming, so the
            # overhead compares the traced round with the mean of its
            # neighbours
            run.trace = False
            untraced = [wl.round(0, False, "untraced")]
            run.trace = True
            rounds.append(wl.round(1, True, "timed"))
            errors = wl.check()
            run.trace = False
            untraced.append(wl.round(2, False, "untraced"))
        else:
            t0 = time.perf_counter()
            while not rounds or time.perf_counter() - t0 < args.seconds:
                rounds.append(wl.round(len(rounds), False, "timed"))
            errors = wl.check()
    finally:
        run.write_spans()
        run.stop()
    folds = run.fold_event_log()
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(run, rounds[0],
                            statistics.mean(r["wall"] for r in untraced), folds)
    else:
        metrics = end_to_end(rounds, folds, setup_s)
    for d in ("out", "local", "ckpt", "input", "warm", "tmp"):
        shutil.rmtree(run.path(d), ignore_errors=True)
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(r["ops"] for r in rounds),
        "failed": sum(r["failed"] for r in rounds),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
