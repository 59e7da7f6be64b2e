#!/usr/bin/env python3
"""Steadiness report: run workloads repeatedly and compare spreads to bounds.

    python3 cvbench/steadiness.py [--workloads a,b] [--runs 10] [--first-seed 1]
                                  [--out FILE]

Runs `cvbench/run.py` once per seed (seeds first-seed .. first-seed+runs-1)
for each workload, with the run length from BENCHMARK.json, then prints for
every metric its median, first and third quartiles (statistics.quantiles,
n=4), the spread (q3 - q1) / median, and the bound BENCHMARK.json fixes.
A metric is `steady` when its spread is under a third of the bound,
`within` when it is under the bound, and `UNRESOLVED` otherwise: a change
smaller than the spread cannot be told apart from noise on the machine it ran on.
Run from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None, help="also write the report as JSON")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    report = {}
    for wl in a.workloads.split(","):
        values, failed = {}, 0
        for seed in range(a.first_seed, a.first_seed + a.runs):
            r = run_once(wl, seed, bench["run_seconds"])
            failed += r["failed"]
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()), flush=True)
        rows = {}
        print(f"\n{wl}: {a.runs} runs, {failed} failed ops")
        print(f"  {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            verdict = ("" if b is None else "steady" if spread < b / 3 else
                       "within" if spread <= b else "UNRESOLVED")
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": b, "verdict": verdict, "values": vs}
            bs = "" if b is None else f"{b:.2f}"
            print(f"  {k:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {bs:>6}  {verdict}")
        report[wl] = {"runs": a.runs, "failed_ops": failed, "metrics": rows}
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
