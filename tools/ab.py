#!/usr/bin/env python3
"""Paired A/B comparison of two versions of graft on one perfbench workload.

    python3 tools/ab.py --workload ingest-stream --pairs 10 --seed0 1001
                        [--base HEAD] [--change WORKTREE]
                        [--traced] [--workdir DIR]

Each side is copied into its own directory under --workdir (default: a new
temporary directory): a git revision through `git archive` (its committed
files, as a fresh checkout would have them), or WORKTREE for the tracked and
untracked, not ignored, files of this checkout as they are on disk. The
repository itself is not touched; perfbench builds and writes inside each
copy.

Pair i runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` on both sides with the same seed S = seed0 + i and T the
`run_seconds` of BENCHMARK.json, and alternates which side runs first. For
every end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles (`statistics.quantiles(n=4)`) over the pairs in which both runs
were correct with 0 failed, how many pairs the change won (ties, and pairs
with a failed or incorrect run, count for neither), and the verdict of the
paired rule: a gain only when at least ten pairs ran, every run was
correct with 0 failed, the change wins at least nine tenths of all pairs
run and the medians differ by more than the base's q3 - q1. With
--traced it then runs one `--trace 1` call per side and prints the
per-layer counts next to each other, plus the codegen compiles of each
replay where the workload streams. The whole record goes to
<workdir>/ab.json. Exit code 1 if any run failed or was not correct.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"
MIN_PAIRS = 10


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, **kw)


def materialize(rev, dest):
    """Copies version `rev` of the repository into the new directory
    `dest`; returns a label naming the exact version."""
    os.makedirs(dest)
    if rev == WORKTREE:
        files = git("ls-files", "-z", "--cached", "--others",
                    "--exclude-standard", stdout=subprocess.PIPE).stdout
        for rel in files.decode().split("\0"):
            src = os.path.join(ROOT, rel)
            if rel and os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, rel)),
                            exist_ok=True)
                shutil.copy2(src, os.path.join(dest, rel))
        head = git("rev-parse", "--short", "HEAD",
                   stdout=subprocess.PIPE, text=True).stdout.strip()
        return f"worktree on {head}"
    sha = git("rev-parse", "--short", rev,
              stdout=subprocess.PIPE, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return sha


def run_bench(side_dir, workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=side_dir, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"seed": seed, "wall_s": wall, "correct": False,
                "failed": None, "error": f"exit {p.returncode}"}
    s = json.loads(lines[-1])
    s["seed"], s["wall_s"] = seed, wall
    return s


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, q3


def verdict(base, change, better, pairs, ok):
    """The paired rule over the per-pair values of one metric from the
    complete pairs; `pairs` counts every pair run, `ok` whether every run
    was correct with 0 failed."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    losses = sum(1 for b, c in zip(base, change) if sign * (c - b) > 0)
    b_med, c_med = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    gap = sign * (b_med - c_med)
    need = math.ceil(0.9 * pairs)
    if pairs < MIN_PAIRS:
        v = f"no claim (< {MIN_PAIRS} pairs)"
    elif not ok:
        v = "no claim (failed runs)"
    elif wins >= need and gap > q3 - q1:
        v = "GAIN"
    elif losses >= need and -gap > q3 - q1:
        v = "LOSS"
    else:
        v = "no claim"
    return {"wins": wins, "losses": losses, "need": need,
            "median_gap": gap, "base_iqr": q3 - q1, "verdict": v}


def good(run):
    """A run that produced metrics, was correct and failed nothing."""
    return "metrics" in run and run["correct"] and run["failed"] == 0


def metric_values(runs, name):
    return [r["metrics"][name]["value"] for r in runs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--base", default="HEAD",
                    help="git revision, or WORKTREE (default HEAD)")
    ap.add_argument("--change", default=WORKTREE,
                    help="git revision, or WORKTREE (the default)")
    ap.add_argument("--traced", action="store_true",
                    help="also run one --trace 1 call per side")
    ap.add_argument("--workdir")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workdir = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    sides = {}
    for side, rev in (("base", a.base), ("change", a.change)):
        d = os.path.join(workdir, side)
        sides[side] = {"rev": rev, "dir": d, "label": materialize(rev, d)}
        print(f"{side}: {rev} ({sides[side]['label']}) in {d}", flush=True)

    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_bench(sides[side]["dir"], a.workload, seed, seconds, 0)
            runs[side].append(r)
            print(f"pair {i + 1:2d} seed {seed} {side:6s} "
                  f"{r['wall_s']:6.1f}s wall correct={r['correct']} "
                  f"failed={r['failed']}", flush=True)
    ok = all(good(r) for rs in runs.values() for r in rs)

    report = {}
    complete = [i for i in range(a.pairs)
                if good(runs["base"][i]) and good(runs["change"][i])]
    print(f"\n{a.workload}: {len(complete)}/{a.pairs} complete pairs, "
          f"seeds {a.seed0}.."
          f"{a.seed0 + a.pairs - 1}, --seconds {seconds}, "
          f"base {sides['base']['label']}, change {sides['change']['label']}")
    print(f"{'metric':20s} {'base med':>10s} {'[q1, q3]':>21s} "
          f"{'change med':>10s} {'[q1, q3]':>21s} {'wins':>6s}  verdict")
    for m in bench["end_to_end"] if complete else []:
        name = m["name"]
        b = metric_values([runs["base"][i] for i in complete], name)
        c = metric_values([runs["change"][i] for i in complete], name)
        v = verdict(b, c, m["better"], a.pairs, ok)
        bq, cq = quartiles(b), quartiles(c)
        report[name] = {"unit": m["unit"], "base": b, "change": c,
                        "base_median": statistics.median(b),
                        "base_q1_q3": bq,
                        "change_median": statistics.median(c),
                        "change_q1_q3": cq, **v}
        print(f"{name:20s} {statistics.median(b):10.4g} "
              f"[{bq[0]:9.4g}, {bq[1]:9.4g}] {statistics.median(c):10.4g} "
              f"[{cq[0]:9.4g}, {cq[1]:9.4g}] {v['wins']:3d}/{a.pairs:<2d}  "
              f"{v['verdict']} (gap {v['median_gap']:.4g}, "
              f"base iqr {v['base_iqr']:.4g} {m['unit']})")
    print(f"all runs correct with 0 failed: {ok}")

    traced = {}
    if a.traced:
        for side in ("base", "change"):
            r = run_bench(sides[side]["dir"], a.workload, a.seed0, seconds, 1)
            res = os.path.join(sides[side]["dir"], "perfbench", "out",
                               "results",
                               f"{a.workload}-seed{a.seed0}-trace1.json")
            if os.path.isfile(res):
                with open(res) as f:
                    jvms = json.load(f).get("jvms", [])
                compiles = [[rp.get("compiles") for rp in j.get("replays", [])]
                            for j in jvms]
                if any(compiles):
                    r["replay_compiles"] = compiles
            traced[side] = r
            ok = ok and good(r)
        print(f"\ntraced (seed {a.seed0}): per-layer metrics")
        print(f"{'metric':28s} {'base':>14s} {'change':>14s}")
        for m in bench["per_layer"]:
            vals = [traced[s].get("metrics", {}).get(m["name"], {})
                    .get("value") for s in ("base", "change")]
            mark = "  *" if vals[0] != vals[1] else ""
            shown = [f"{v:.6g}" if isinstance(v, float) else str(v)
                     for v in vals]
            print(f"{m['name']:28s} {shown[0]:>14s} {shown[1]:>14s}{mark}")
        for s in ("base", "change"):
            if traced[s].get("replay_compiles"):
                print(f"{s} replays[].compiles per JVM: "
                      f"{traced[s]['replay_compiles']}")

    out = os.path.join(workdir, "ab.json")
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "seconds": seconds,
                   "seed0": a.seed0, "pairs": a.pairs,
                   "sides": sides, "runs": runs, "report": report,
                   "traced": traced, "correct": ok}, f, indent=1)
    print(f"record: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
