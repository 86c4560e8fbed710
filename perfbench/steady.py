#!/usr/bin/env python3
"""Steadiness check of the lake benchmark.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1]
                                [--workloads cdc_cow,corpus_arrival]
                                [--out steady.json] [--set-bounds]

Run from the repository root. Runs every workload of BENCHMARK.json (or the
ones named) once per seed with --trace 0, then reports for each end-to-end
metric the median, the quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median. A metric is steady when its spread is below a third of
its bound in BENCHMARK.json; the suggested bound is three times the worst
spread seen, rounded up to a whole percent, at least 0.05 and at most 0.25
(setup_s always gets the largest bound, 0.25); --set-bounds writes the
suggested bounds into BENCHMARK.json. Exits non-zero when a run fails or is
incorrect, or when a metric other than setup_s is not steady.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return p.returncode, result, p.stdout + p.stderr


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--set-bounds", action="store_true")
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = ([w for w in a.workloads.split(",") if w] or
                 [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]
    ok = True
    report = {}
    for w in workloads:
        values = {m["name"]: [] for m in metrics}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            rc, res, log = run_once(w, seed, bench["run_seconds"])
            wall = time.time() - t0
            if rc != 0 or not res or not res["correct"] or res["failed"]:
                ok = False
                print(f"{w} seed {seed}: FAILED (exit {rc})\n{log[-3000:]}")
                continue
            for m in metrics:
                values[m["name"]].append(res["metrics"][m["name"]]["value"])
            print(f"{w} seed {seed} ({wall:.0f} s): " + ", ".join(
                f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        report[w] = {}
        for m in metrics:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            steady = spread < m["bound"] / 3
            # set-up time is gated only on its median, not its spread
            ok &= steady or m["name"] == "setup_s"
            report[w][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": m["bound"], "steady": steady, "values": xs}
            print(f"  {w:16s} {m['name']:22s} median {med:12.5g} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f} "
                  f"{'ok' if steady else 'NOT STEADY'}")
    print("suggested bounds:")
    for m in metrics:
        worst = max((report[w][m["name"]]["spread"] for w in report
                     if m["name"] in report[w]), default=0.0)
        bound = 0.25 if m["name"] == "setup_s" else min(
            0.25, max(0.05, math.ceil(300 * worst) / 100))
        print(f"  {m['name']:22s} worst spread {worst:.3f} -> bound {bound:.2f}")
        if a.set_bounds:
            m["bound"] = bound
    if a.set_bounds:
        with open("BENCHMARK.json", "w") as fh:
            json.dump(bench, fh, indent=2)
            fh.write("\n")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
