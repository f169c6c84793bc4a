#!/usr/bin/env python3
"""Run one workload under several seeds and report, per metric, the
median and the quartile spread (Q3 - Q1) / median, as Python's
statistics.quantiles(values, n=4) gives the quartiles.

    python3 perfbench/spread.py --workload batch-mix --seeds 1-10 [--trace 0]

Each run's result line is appended to perfbench/work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    log = os.path.join(HERE, "work", f"spread-{a.workload}.jsonl")
    values, walls = {}, []
    for seed in range(lo, hi + 1):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        walls.append(time.time() - t)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": walls[-1], **res}) + "\n")
        ambient = [l for l in p.stdout.splitlines() if "ambient_load=yes" in l]
        print(f"seed {seed}: correct={res['correct']} wall={walls[-1]:.0f}s"
              + (" (ambient load)" if ambient else "") + " "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"runs={len(walls)} wall median={statistics.median(walls):.1f}s total={sum(walls):.0f}s")
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k:24s} median={med:.5g} spread={(q3 - q1) / med:.3f}")


if __name__ == "__main__":
    main()
