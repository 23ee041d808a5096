#!/usr/bin/env python3
"""Steadiness report: runs one workload N times, each with another seed,
and prints each metric's median, quartiles, (q3-q1)/median and
(max-min)/median.

    python3 perfbench/steady.py --workload NAME [--runs 10] [--seed0 1]
                                [--seconds 15] [--trace 0]

Quartiles are `statistics.quantiles(values, n=4)`. The per-run summaries
and the report are saved to perfbench/out/steady/.
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


def report(runs):
    names = list(runs[0]["metrics"])
    rows = {}
    for m in names:
        vals = [r["metrics"][m]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 \
            else (vals[0], None, vals[0])
        rows[m] = {"unit": runs[0]["metrics"][m]["unit"], "median": med,
                   "q1": q1, "q3": q3,
                   "iqr_frac": (q3 - q1) / med if med else 0.0,
                   "range_frac": (max(vals) - min(vals)) / med if med else 0.0,
                   "values": vals}
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    runs, walls = [], []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            return 1
        s = json.loads(p.stdout.strip().splitlines()[-1])
        s["seed"] = seed
        runs.append(s)
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={s['correct']} "
              f"failed={s['failed']}/{s['attempted']}", flush=True)
    rows = report(runs)
    print(f"\n{a.workload}: {len(runs)} runs, seeds {a.seed0}.."
          f"{a.seed0 + len(runs) - 1}, --seconds {seconds}, "
          f"--trace {a.trace}, wall median {statistics.median(walls):.1f}s")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'iqr/med':>8s} {'rng/med':>8s}")
    for m, r in rows.items():
        print(f"{m:28s} {r['median']:12.4g} {r['q1']:12.4g} {r['q3']:12.4g} "
              f"{r['iqr_frac']:8.3f} {r['range_frac']:8.3f}  {r['unit']}")
    out = os.path.join(HERE, "out", "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seconds": seconds,
                   "trace": a.trace, "walls_s": walls, "runs": runs,
                   "report": rows}, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
