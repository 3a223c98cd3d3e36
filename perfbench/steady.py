#!/usr/bin/env python3
"""Steadiness check of the benchmark.

1. For each workload, runs the untraced benchmark on ten seeds and prints,
   for every end-to-end metric, the median and the spread: the distance
   between the first and third quartile (statistics.quantiles, n=4) as a
   share of the median. A spread above the metric's bound in
   BENCHMARK.json fails the check; a spread above a third of the bound is
   flagged.
2. For each workload, runs the traced benchmark twice on one seed and
   confirms that the deterministic counters repeat exactly.

Usage: python3 perfbench/steady.py   (exit code 0 when steady)
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)
COUNTERS = ["scheduler.jobs", "shuffle.records", "mr.pairs", "streaming.triggers"]


def run(bench, workload, seed, trace):
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit code {r.returncode}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        sys.exit(f"{workload} seed {seed}: {out['failed']} of {out['attempted']} failed")
    return {k: v["value"] for k, v in out["metrics"].items()}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        runs = [run(bench, w, seed, 0) for seed in SEEDS]
        for m in bench["end_to_end"]:
            vals = [r[m["name"]] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med
            flag = "ok"
            if spread > m["bound"] / 3:
                flag = "above a third of the bound"
            if spread > m["bound"]:
                flag, ok = "ABOVE THE BOUND", False
            print(f"{w:12s} {m['name']:18s} median {med:10.4f} {m['unit']:3s} "
                  f"spread {spread:6.3f} bound {m['bound']}: {flag}; "
                  f"values {[round(v, 3) for v in vals]}", flush=True)
        first, second = run(bench, w, 1, 1), run(bench, w, 1, 1)
        for c in COUNTERS:
            same = first[c] == second[c]
            ok &= same
            print(f"{w:12s} {c:18s} {first[c]:g} then {second[c]:g}: "
                  f"{'repeats' if same else 'DIFFERS'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
