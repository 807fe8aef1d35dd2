#!/usr/bin/env python3
"""Run one workload over several seeds and print each metric's median,
quartiles and spread (interquartile distance as a share of the median),
the figures the bounds in BENCHMARK.json are set against.

    python3 perfbench/spread.py --workload search --seeds 1-10 --seconds 12
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    rows, walls = [], []
    for s in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, run, "--workload", a.workload, "--seed", str(s),
                              "--seconds", a.seconds, "--trace", a.trace],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}")
            continue
        walls.append(time.time() - t0)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        rows.append(r)
        print(f"seed {s}: wall {walls[-1]:.1f} s correct {r['correct']} "
              f"attempted {r['attempted']} failed {r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    if len(rows) < 2:
        return 1
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
    for k, m in rows[0]["metrics"].items():
        v = [r["metrics"][k]["value"] for r in rows]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:34s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f}  {m['unit']}")
    print(f"run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    fails = {r["failed"] / r["attempted"] for r in rows}
    print(f"failed share per run: {sorted(fails)}; all correct: {all(r['correct'] for r in rows)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
