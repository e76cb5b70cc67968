#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1, as a share of the median) against the
bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workload pcap_kpi ...]

Spreads above a third of the bound are marked; set-up time is reported but
is not held to its bound (it is compared by median only).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for s in seeds(a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{w} seed {s}: run failed ({out.returncode})")
                continue
            res = json.loads(lines[-1])
            host = json.loads(lines[-2]) if len(lines) > 1 else {}
            print(f"{w} seed {s}: correct={res['correct']} noisy={host.get('noisy')} "
                  f"steal={host.get('steal_ticks')} iter_s={host.get('iter_s')} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- above bound/3"
            print(f"  {w:16s} {m['name']:14s} median {med:12.4f} spread {spread:7.4f} "
                  f"bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
