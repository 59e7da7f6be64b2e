#!/usr/bin/env python3
"""Self-test of the benchmark's result checks.

    python3 cvbench/selftest.py [--workloads a,b]

For each workload, runs one short run in which the expectation of every op
of the first op cycle is deliberately wrong (one per op kind), and asserts
that the run reports exactly those ops as failed and `correct: false`. A
check that let a wrong expectation through would make the benchmark's
`correct: true` worthless. Run from the root of a checkout; exits non-zero
on the first check that misses.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
CYCLE = {"cutout_bulk": 4, "lookup_small": 8}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(CYCLE))
    a = ap.parse_args()
    for wl in a.workloads.split(","):
        ids = ",".join(str(i) for i in range(CYCLE[wl]))
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", "7",
             "--seconds", "1", "--trace", "0", "--inject-wrong", ids],
            cwd=HERE.parent, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"{wl}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        caught = r["failed"] == CYCLE[wl] and r["correct"] is False
        print(f"{wl}: injected {CYCLE[wl]} wrong expectations, "
              f"{r['failed']} of {r['attempted']} ops failed: "
              f"{'caught' if caught else 'MISSED'}")
        if not caught:
            sys.exit(1)
    print("selftest: every injected wrong expectation was caught")


if __name__ == "__main__":
    main()
