#!/usr/bin/env python3
"""Runs a workload over several seeds and reports each end-to-end
metric's median and spread (interquartile distance / median), the
figures BENCHMARK.json's bounds are judged against.

Usage (from the root of a checkout):

    python3 perfbench/steadiness.py --workload demo_days --seeds 1-10 [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    values = {}
    for seed in seeds(a.seeds):
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", a.trace],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        result = json.loads(lines[-1])
        record = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              f"load1={record.get('load1_start')}->{record.get('load1_end')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{k:20s} median={med:.5g} spread={spread:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
