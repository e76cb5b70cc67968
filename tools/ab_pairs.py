#!/usr/bin/env python3
"""Compare two checkouts on the benchmark in alternating seeded pairs.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W --seeds 1-10

For each seed, each checkout's own perfbench/run.py runs the workload once
at BENCHMARK.json's run_seconds with --trace 0: the parent first on odd
seeds, the change first on even seeds, so a drift of the host over the
session does not favour one side. A run its host line flags noisy is re-run
once. Then, per end-to-end metric: both sides' median and quartiles, how
many pairs the change wins (and how many are exact ties), and whether the
gap between the medians exceeds the parent's interquartile range (Q3 - Q1).
Run each checkout once beforehand so neither pays its .bench_build rebuild
inside a pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(tree, workload, seed, seconds):
    """One run of `tree`'s harness: (metrics, host line) or None on failure;
    a run flagged noisy is repeated once."""
    for attempt in (1, 2):
        out = subprocess.run(
            [sys.executable, os.path.join(tree, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=tree, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            return None
        res = json.loads(lines[-1])
        host = json.loads(lines[-2]) if len(lines) > 1 else {}
        if not host.get("noisy") or attempt == 2:
            metrics = {k: v["value"] for k, v in res["metrics"].items()}
            return metrics, host


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    return tuple(statistics.quantiles(xs, n=4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    trees = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    pairs = []
    for s in seeds(a.seeds):
        order = ["parent", "change"] if s % 2 else ["change", "parent"]
        got = {}
        for side in order:
            r = run(trees[side], a.workload, s, spec["run_seconds"])
            got[side] = r
            if r is None:
                print(f"{a.workload} seed {s} {side}: run failed", flush=True)
                continue
            metrics, host = r
            print(f"{a.workload} seed {s} {side}: noisy={host.get('noisy')} "
                  f"steal={host.get('steal_ticks')} " +
                  " ".join(f"{k}={v!r}" for k, v in metrics.items()), flush=True)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"][0], got["change"][0]))
    print(f"{a.workload}: {len(pairs)} complete pairs")
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        p = [x[0][name] for x in pairs]
        c = [x[1][name] for x in pairs]
        if not pairs:
            continue
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((cv > pv) if higher else (cv < pv) for pv, cv in zip(p, c))
        ties = sum(cv == pv for pv, cv in zip(p, c))
        worse = (pq[1] - cq[1]) if higher else (cq[1] - pq[1])
        rel = worse / pq[1] if pq[1] else 0.0
        print(f"  {name:14s} parent {pq[1]:12.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
              f"  change {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]"
              f"  change wins {wins}/{len(pairs)} (ties {ties})"
              f"  gap>parent IQR {abs(cq[1] - pq[1]) > pq[2] - pq[0]}"
              f"  worse by {rel:+.3f} (bound {m['bound']})")


if __name__ == "__main__":
    main()
