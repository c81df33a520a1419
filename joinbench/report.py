#!/usr/bin/env python3
"""Print every metric of the benchmark, per workload, with its unit.

    python3 joinbench/report.py [--seed 1] [--seconds 10] [--workload join_skew ...]

For each workload it makes one untraced run (the end-to-end metrics) and
one traced run (the per-layer metrics, with the layers the workload does
not run named as absent), then prints the tracing overhead: traced minus
untraced warm_pass_s.
"""
import argparse
import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed (exit {p.returncode})")
    lines = p.stdout.splitlines()
    return lines[:-1], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workload", nargs="*", default=sorted(run.MIN_WARM))
    args = ap.parse_args()
    ok = True
    for w in args.workload:
        print(f"== {w}")
        text0, r0 = one(w, args.seed, args.seconds, 0)
        text1, r1 = one(w, args.seed, args.seconds, 1)
        print("\n".join(text0 + text1))
        traced = r1["metrics"]["trace.warm_pass_s"]["value"]
        untraced = r0["metrics"]["warm_pass_s"]["value"]
        print(f"{'trace.overhead_s':32s} {traced - untraced:>12.6g} s")
        print(f"{'correct':32s} {str(r0['correct'] and r1['correct']):>12s}")
        ok = ok and r0["correct"] and r1["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
