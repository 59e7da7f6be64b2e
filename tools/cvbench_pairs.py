#!/usr/bin/env python3
"""Paired cvbench runs of a parent commit against this checkout.

    python3 tools/cvbench_pairs.py <parent-rev> --workload W [--workload W2]
        --pairs N --seeds S [S ...] [--aa]

Builds the parent tree once (`git archive <parent-rev>` under a temp dir)
and this checkout's working tree, then runs `cvbench/run.py --trace 0` of
both sides once per seed for BENCHMARK.json's run_seconds, alternating
which side runs first (even pairs parent first, odd pairs change first).
One seed is expanded to N consecutive seeds. `--aa` runs the parent
against itself, to show the day's noise floor. Run from anywhere; the
change side is the checkout this file lives in.

Per workload and per end-to-end metric of BENCHMARK.json it prints both
sides' medians, the parent's IQR (statistics.quantiles, n=4), how many
pairs the change won, and the bound verdict: REGRESSION when the change's
median is worse than the parent's by more than the metric's bound; GAIN
when the change won at least 9 of 10 pairs and its median is better by
more than the parent's IQR; unresolved when the parent's own IQR is wider
than the bound and not every change run beats every parent run; ok
otherwise. Every pair is listed with both sides' `steal_frac_run` (the
CPU steal share during the measured window, from each run's DETAIL
line); pairs where either side passed STEAL are named, and each verdict
is shown a second time without them. No pair is ever dropped silently.
`bench.failed_frac` is reported per side.

Exit status: 1 when any all-pairs verdict is REGRESSION or a run failed.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
E2E_FAILED = "bench.failed_frac"
# steal_frac_run above which a pair is named: quiet runs on the 4-core VM
# read <= 0.02, the runs that moved every op kind read 0.07-0.27
STEAL = 0.05


def build(tree):
    """Compile one tree's engine + benchmark (cvbench/run.py's own build)."""
    code = ("import sys; sys.path.insert(0, 'cvbench'); import run; run.build()")
    subprocess.run([sys.executable, "-c", code], cwd=tree, check=True,
                   stdout=subprocess.DEVNULL)


def run_once(tree, workload, seed, seconds):
    """One benchmark run -> (metrics dict, detail dict), or None on failure."""
    p = subprocess.run(
        [sys.executable, "cvbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-1500:])
        return None
    result = json.loads(lines[-1])
    detail = next((json.loads(l[len("DETAIL "):]) for l in lines
                   if l.startswith("DETAIL ")), {})
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    return metrics, detail


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return q1, q3


def verdict(pairs, name, better, bound):
    """Medians, parent IQR, wins and verdict of one metric over `pairs`."""
    ps = [p["parent"][name] for p in pairs]
    cs = [p["change"][name] for p in pairs]
    if not ps:
        return None
    pm, cm = statistics.median(ps), statistics.median(cs)
    q1, q3 = quartiles(ps)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for a, b in zip(ps, cs) if sign * (b - a) < 0)
    worse = sign * (cm - pm) / pm if pm else 0.0
    all_better = max(sign * c for c in cs) < min(sign * p for p in ps)
    v = "ok"
    if bound is not None and worse > bound:
        v = "REGRESSION"
    elif wins >= 0.9 * len(pairs) and -sign * (cm - pm) > q3 - q1:
        v = "GAIN"
    elif bound is not None and pm and (q3 - q1) / abs(pm) > bound and not all_better:
        v = "unresolved"
    return {"parent": pm, "change": cm, "delta": -worse if better == "higher" else worse,
            "iqr": q3 - q1, "wins": wins, "n": len(pairs), "verdict": v}


def fmt(r):
    if r is None:
        return "(no pairs)"
    return (f"{r['parent']:11.4g} {r['change']:11.4g} {100 * r['delta']:+7.1f}% "
            f"{r['iqr']:9.3g} {r['wins']:3d}/{r['n']:<3d} {r['verdict']}")


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", action="append", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True,
                    help="one seed per pair, or one first seed")
    ap.add_argument("--aa", action="store_true",
                    help="run the parent against itself")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    seeds = a.seeds if len(a.seeds) > 1 else list(range(a.seeds[0], a.seeds[0] + a.pairs))
    if len(seeds) < a.pairs:
        ap.error(f"{a.pairs} pairs need {a.pairs} seeds, got {len(seeds)}")
    seeds = seeds[:a.pairs]

    rev = subprocess.run(["git", "rev-parse", "--short", a.parent_rev], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    work = Path(tempfile.mkdtemp(prefix="cvbench_pairs_"))
    parent = work / "parent"
    parent.mkdir()
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(parent)], input=archive, check=True)
    change = parent if a.aa else ROOT
    sides = {"parent": parent, "change": change}
    print(f"parent {rev} at {parent}; change {'= parent (A/A)' if a.aa else change}",
          flush=True)
    for tree in {parent, change}:
        build(tree)

    ends = [(m["name"], m["better"], m.get("bound")) for m in bench["end_to_end"]]
    failed_runs = 0
    any_regression = False
    try:
        for wl in a.workload:
            pairs = []
            print(f"\n== {wl}: {a.pairs} pairs, {seconds:g} s runs", flush=True)
            for i, seed in enumerate(seeds):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                rec = {"seed": seed, "first": order[0]}
                for side in order:
                    r = run_once(sides[side], wl, seed, seconds)
                    if r is None:
                        failed_runs += 1
                        rec = None
                        print(f"  seed {seed}: {side} run FAILED", flush=True)
                        break
                    rec[side], rec[side + "_detail"] = r
                if rec is None:
                    continue
                rec["steal"] = {s: rec[s + "_detail"].get("steal_frac_run", float("nan"))
                                for s in sides}
                pairs.append(rec)
                print(f"  seed {seed} ({rec['first']} first): " + "  ".join(
                    f"{n} {rec['parent'][n]:.4g}->{rec['change'][n]:.4g}"
                    for n, _, _ in ends) +
                    f"  steal {rec['steal']['parent']:.3f}/{rec['steal']['change']:.3f}",
                    flush=True)
            stolen = [p for p in pairs if max(p["steal"].values()) > STEAL]
            quiet = [p for p in pairs if p not in stolen]
            print(f"\n{wl}: {len(pairs)} pairs; steal > {STEAL:g} on "
                  + (", ".join(f"seed {p['seed']} ({p['steal']['parent']:.3f}/"
                               f"{p['steal']['change']:.3f})" for p in stolen) or "none"))
            print(f"  {'metric':30} {'parent':>11} {'change':>11} {'delta':>8} "
                  f"{'par IQR':>9} {'wins':>7} verdict   | without stolen pairs")
            for name, better, bound in ends:
                full = verdict(pairs, name, better, bound)
                any_regression |= bool(full and full["verdict"] == "REGRESSION")
                print(f"  {name:30} {fmt(full)}   | {fmt(verdict(quiet, name, better, bound))}")
            for side in sides:
                ff = [p[side].get(E2E_FAILED, 0.0) for p in pairs]
                print(f"  {E2E_FAILED} {side}: median "
                      f"{statistics.median(ff) if ff else float('nan'):.4g}, max "
                      f"{max(ff) if ff else float('nan'):.4g}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if failed_runs:
        print(f"\n{failed_runs} run(s) failed")
    sys.exit(1 if any_regression or failed_runs else 0)


if __name__ == "__main__":
    main()
