#!/usr/bin/env python3
"""Steadiness report: runs each workload repeatedly with different seeds
and prints, per end-to-end metric, the median, the quartiles and the
spread (interquartile distance as a share of the median), beside the
metric's bound in BENCHMARK.json.

With --sets 2 it runs the whole series twice and also prints how far the
second set's median moved from the first's, the agreement check a
benchmark's bounds have to pass.

    python3 perfbench/steady.py --runs 10 [--workload query_mix] [--sets 2]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(r.stdout.splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect output\n{r.stdout}")
    return {k: v["value"] for k, v in res["metrics"].items()}, time.time() - t0


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                runs.append(run_once(w, a.seed0 + 1000 * s + i, spec["run_seconds"]))
                print(f"  run {i + 1}: " + "  ".join(f"{k} {v:.4g}" for k, v in runs[-1][0].items())
                      + f"  ({runs[-1][1]:.0f} s)", flush=True)
            sets.append(runs)
            walls = [t for _, t in runs]
            print(f"{w} set {s + 1}: {len(runs)} runs, {statistics.median(walls):.1f} s median "
                  f"per run, {max(walls):.1f} s max", flush=True)
            for m in bounds:
                med, q1, q3, spread = summary([r[m] for r, _ in runs])
                flag = "" if spread < bounds[m] / 3 else "  <-- spread over bound/3"
                ok &= spread < bounds[m]
                print(f"  {m:18s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                      f"spread {spread:6.3f}  bound {bounds[m]:.2f}{flag}", flush=True)
        if a.sets == 2:
            for m in bounds:
                m1 = statistics.median([r[m] for r, _ in sets[0]])
                m2 = statistics.median([r[m] for r, _ in sets[1]])
                better = next(x["better"] for x in spec["end_to_end"] if x["name"] == m)
                worse = (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1
                ok &= worse <= bounds[m]
                print(f"  agreement {m:18s} set2/set1 {m2 / m1:.3f}  worse by {worse:+.3f}  "
                      f"bound {bounds[m]:.2f}{'' if worse <= bounds[m] else '  <-- FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
