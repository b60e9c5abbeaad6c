#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of the same commit agree?

    python3 perfbench/steadiness.py

Runs `run.py` ten times per workload of BENCHMARK.json in each of two
sets, each run with another seed (set k, run i uses seed 1000*k + i + 1)
and BENCHMARK.json's run_seconds. For every end-to-end metric it prints,
per workload and set, the median and quartiles (Python's
statistics.quantiles, n=4) and the spread (q3 - q1) / median, then
whether the sets agree within the metric's bound: each set's spread
within the bound and the second set's median no worse than the first's
by more than the bound. Exit status 0 when every metric of every
workload agrees and every run was correct.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import parse_tail  # noqa: E402

SETS = (1, 2)
RUNS = 10


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    result, _ = parse_tail(p.stdout[-2000:])
    ok = p.returncode == 0 and result is not None and result.get("correct")
    return result if ok else None


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse(new, old, better):
    """Relative change of `new` against `old`, positive when worse."""
    return (new - old) / old if better == "lower" else (old - new) / old


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    all_ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        results = {}
        for s in SETS:
            results[s] = []
            for i in range(RUNS):
                seed = 1000 * s + i + 1
                r = run_once(w, seed, spec["run_seconds"])
                print(f"set {s} {w} seed {seed}: {'correct' if r else 'FAILED or incorrect'}",
                      file=sys.stderr, flush=True)
                if r is None:
                    all_ok = False
                else:
                    results[s].append(r)
        print(f"\n{w}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            line = f"  {name:<16} bound {bound:<5}"
            meds, agree = [], True
            for s in SETS:
                vals = [r["metrics"][name]["value"] for r in results[s]]
                if len(vals) < 2:
                    line += f" | set {s}: {len(vals)} values"
                    agree = False
                    continue
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                line += f" | set {s}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {sp:.3f}"
                agree &= sp <= bound
            if len(meds) == 2:
                change = worse(meds[1], meds[0], m["better"])
                line += f" | set 2 vs 1: {change:+.3f}"
                agree &= change <= bound
            line += " | agree" if agree else " | DISAGREE"
            all_ok &= agree
            print(line, flush=True)
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
