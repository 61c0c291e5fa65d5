#!/usr/bin/env python3
"""Tracing overhead: run one workload at one seed untraced, then traced,
and print traced minus untraced for every metric both reports print.

    python3 perfbench/overhead.py --workload <name> --seed <n> --seconds <s>
"""
import argparse
import os
import re
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
LINE = re.compile(r"^\[perfbench\] (\S+) (\S+)\s+(-?[0-9.]+) (\S+)$")


def report(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", trace],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"trace={trace} run failed (exit {out.returncode}):\n{out.stdout[-2000:]}")
    metrics = {}
    for line in out.stdout.splitlines():
        m = LINE.match(line)
        if m and m.group(1) == workload:
            metrics[m.group(2)] = (float(m.group(3)), m.group(4))
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    args = ap.parse_args()
    plain = report(args.workload, args.seed, args.seconds, "0")
    traced = report(args.workload, args.seed, args.seconds, "1")
    print(f"{'metric':32s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, (v0, unit) in plain.items():
        if name in traced:
            v1 = traced[name][0]
            rel = f"{(v1 - v0) / v0:+.1%}" if v0 else "n/a"
            print(f"{name:32s} {v0:12.4f} {v1:12.4f} {v1 - v0:+12.4f} {unit} ({rel})")


if __name__ == "__main__":
    main()
