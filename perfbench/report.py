"""Run every workload untraced and traced, and print the end-to-end
metrics, the per-layer metrics with the end-to-end metric each should
move, and the tracing overhead (traced minus untraced ``pass_s``).

    python3 perfbench/report.py [--seed 1] [--seconds 25] [--workload NAME ...]

Run from the repository root. Each run is a separate
``perfbench/run.py`` process, one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        names = list(json.load(fh)["workloads"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--workload", action="append", choices=names)
    args = ap.parse_args()
    for workload in args.workload or names:
        plain = run(workload, args.seed, args.seconds, 0)
        traced = run(workload, args.seed, args.seconds, 1)
        print(f"== {workload}  (seed {args.seed}; fail_rate "
              f"{plain['failed']}/{plain['attempted']} untraced, "
              f"{traced['failed']}/{traced['attempted']} traced)")
        for name, unit, _better in END_TO_END:
            print(f"  {name:34s} {plain['metrics'][name]['value']:>16.6g} {unit}")
        for name, unit, _better, moves in PER_LAYER:
            value = traced["metrics"][name]["value"]
            print(f"  {name:34s} {value:>16.6g} {unit:6s} -> {moves}")
        overhead = (traced["metrics"]["trace.pass_s"]["value"]
                    - plain["metrics"]["pass_s"]["value"])
        print(f"  tracing overhead (traced - untraced pass_s) {overhead:+.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
