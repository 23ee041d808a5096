#!/usr/bin/env python3
"""Paired A/B comparison of two versions of graft on one perfbench workload.

    python3 tools/ab.py --workload ingest-stream --pairs 10 --seed0 1001
                        [--base HEAD] [--change WORKTREE]
                        [--traced] [--workdir DIR]
    python3 tools/ab.py --keys k1,k2 [--data DIR] [--repeat N]
                        [--base HEAD] [--change WORKTREE] [--workdir DIR]

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

With --keys, both copies are built the same way and each side runs N
(--repeat, default 1) `graft.perfbench.Main mode=queries ... trace=1`
JVMs over the named `SparkEntry.queries` keys on the corpus in --data
(default: the sf0.1 testdata corpus), on the classpath that
perfbench/run.py's build produces inside that copy; the sides alternate, and which side
runs first alternates from round to round. For every key and count it
prints the set of values each side's traced tries showed, marking with
`*` each count whose two sets differ and with `?` each count whose base
values did not repeat (a count that moves between runs of one build is
no evidence of a change); then each side's traced `total_s` and `cpu_s`
per key, and the `live_heap_mb` of the key's untraced tries (the live heap
after the try, read after a full GC with its plan and pins still held),
each the median over its runs (min-max when N > 1). With N of at least
ten, round i of each side is pair i: for every key it then prints each
side's traced `cpu_s` and `total_s` median and quartiles, the rounds the
change won and the paired rule's verdict, as --workload mode does (a round
in which either side's try of the key failed counts as a failed run). The
raw records go to
<workdir>/<side>-keys-<round>/raw.json. Exit code 1 if any try of
either side failed.
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
# Per-key counts of one traced try, as graft.perfbench.Main records them.
KEY_COUNTS = ["rows", "sched.jobs", "sched.stages", "sched.tasks",
              "pin.count", "pin.bytes", "plans.exchanges",
              "shuffle.write_bytes"]
# Per-key seconds of one traced try, printed after the counts.
KEY_TIMES = ["total_s", "cpu_s"]
# Per-key values of the untraced try records, printed after the times.
KEY_TRIES = ["live_heap_mb"]
KEYS_LIMIT_S = 1800
# Runs inside one copy: builds it with perfbench/run.py's build and runs
# one traced queries JVM with run.py's launcher.
RUN_KEYS = """
import json, os, sys
sys.path.insert(0, "perfbench")
import run
work, data, keys, limit = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
tables = sorted(f[:-len(".parquet")] for f in os.listdir(data)
                if f.endswith(".parquet"))
os.makedirs(work)
try:
    run.run_jvm(run.build(), work, {
        "mode": "queries", "data": data, "work": work,
        "out": os.path.join(work, "raw.json"), "seed": 1, "seconds": 0,
        "passes": 0, "trace": 1, "keys": keys, "tables": ",".join(tables)},
        os.path.join(work, "jvm.log"), float(limit))
except run.BenchError as e:
    sys.exit(str(e))
"""


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


def run_keys(side_dir, work, data, keys):
    """One traced queries JVM over `keys` in the copy `side_dir`; returns
    its raw record, or None if it produced none."""
    p = subprocess.run([sys.executable, "-c", RUN_KEYS, work, data,
                        ",".join(keys), str(KEYS_LIMIT_S)], cwd=side_dir)
    raw = os.path.join(work, "raw.json")
    if p.returncode != 0 or not os.path.isfile(raw):
        return None
    with open(raw) as f:
        return json.load(f)


def key_failures(raw, keys):
    """Failed tries of `keys` in one side's record, as printable lines."""
    if raw is None:
        return ["no record (build or JVM failed)"]
    bad = [f"{t['key']} pass {t['pass']}: {t['error']}"
           for t in raw["tries"]
           if t["error"] is not None and t["key"] in keys]
    traced = raw.get("traced") or {}
    bad += [f"{k} traced: {e}" for k, e in traced.get("errors", {}).items()
            if k in keys]
    bad += [f"{k}: no traced try" for k in keys
            if k not in traced.get("keys", {})]
    return bad


def shown(vals):
    """The distinct values of one count over a side's runs, as text."""
    return ",".join("-" if v is None else f"{v:.0f}"
                    for v in sorted(set(vals), key=lambda v: (v is None, v)))


def traced_values(raws, key, m):
    """Per side, metric `m` of `key` in each run's traced record."""
    return {s: [((r or {}).get("traced") or {}).get("keys", {})
                .get(key, {}).get(m) for r in raws[s]]
            for s in ("base", "change")}


def try_values(raws, key, m):
    """Per side, metric `m` of each try record of `key` in each run."""
    return {s: [t.get(m) for r in raws[s] for t in (r or {}).get("tries", [])
                if t["key"] == key]
            for s in ("base", "change")}


def timed(vals):
    """One time or size over a side's runs, as text: the median, and
    min-max when there was more than one value."""
    vals = [v for v in vals if v is not None]
    if not vals:
        return "-"
    med = f"{statistics.median(vals):.2f}"
    if len(vals) == 1:
        return med
    return f"{med} ({min(vals):.2f}-{max(vals):.2f})"


def compare_keys(a, sides, workdir):
    keys = a.keys.split(",")
    data = os.path.abspath(a.data)
    raws = {"base": [], "change": []}
    for i in range(a.repeat):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            raws[side].append(run_keys(
                sides[side]["dir"],
                os.path.join(workdir, f"{side}-keys-{i + 1}"), data, keys))
    print(f"\nkeys on {data}: base {sides['base']['label']}, "
          f"change {sides['change']['label']} ({a.repeat} traced "
          f"JVM{'s' if a.repeat > 1 else ''} each; values each side showed; "
          f"* sides differ, ? base did not repeat)")
    print(f"{'key':26s} {'count':20s} {'base':>20s} {'change':>20s}")
    for k in keys:
        for i, m in enumerate(KEY_COUNTS):
            vals = traced_values(raws, k, m)
            mark = ""
            if set(vals["base"]) != set(vals["change"]):
                mark += " *"
            if len(set(vals["base"])) > 1:
                mark += " ?"
            print(f"{k if i == 0 else '':26s} {m:20s} "
                  f"{shown(vals['base']):>20s} "
                  f"{shown(vals['change']):>20s}{mark}")
        for m, vals in ([(m, traced_values(raws, k, m)) for m in KEY_TIMES]
                        + [(m, try_values(raws, k, m)) for m in KEY_TRIES]):
            print(f"{'':26s} {m:20s} {timed(vals['base']):>20s} "
                  f"{timed(vals['change']):>20s}")
    if a.repeat >= MIN_PAIRS:
        paired_key_times(raws, keys, a.repeat)
    ok = True
    for side in ("base", "change"):
        for n, raw in enumerate(raws[side], 1):
            for line in key_failures(raw, keys):
                ok = False
                print(f"{side} run {n} FAILED {line}")
    return ok


def paired_key_times(raws, keys, rounds):
    """Round i of each side as pair i: the paired rule over each key's
    traced times."""
    print(f"\npaired per-key times over {rounds} rounds "
          f"(round i of each side is pair i)")
    print(PAIRED_HEADER)
    for k in keys:
        complete = [i for i in range(rounds)
                    if not key_failures(raws["base"][i], [k])
                    and not key_failures(raws["change"][i], [k])]
        for m in KEY_TIMES:
            vals = traced_values(raws, k, m)
            b = [vals["base"][i] for i in complete]
            c = [vals["change"][i] for i in complete]
            if complete:
                print(paired_line(f"{k} {m}", b, c, "lower", rounds,
                                  len(complete) == rounds, "s")[1])
            else:
                print(f"{k} {m}: no complete round")


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


PAIRED_HEADER = (f"{'metric':28s} {'base med':>10s} {'[q1, q3]':>21s} "
                 f"{'change med':>10s} {'[q1, q3]':>21s} {'wins':>6s}  "
                 "verdict")


def paired_line(name, base, change, better, pairs, ok, unit):
    """The paired rule over one metric, and its line under
    PAIRED_HEADER."""
    v = verdict(base, change, better, pairs, ok)
    bq, cq = quartiles(base), quartiles(change)
    rec = {"unit": unit, "base": base, "change": change,
           "base_median": statistics.median(base), "base_q1_q3": bq,
           "change_median": statistics.median(change),
           "change_q1_q3": cq, **v}
    line = (f"{name:28s} {rec['base_median']:10.4g} "
            f"[{bq[0]:9.4g}, {bq[1]:9.4g}] {rec['change_median']:10.4g} "
            f"[{cq[0]:9.4g}, {cq[1]:9.4g}] {v['wins']:3d}/{pairs:<2d}  "
            f"{v['verdict']} (gap {v['median_gap']:.4g}, "
            f"base iqr {v['base_iqr']:.4g} {unit})")
    return rec, line


def good(run):
    """A run that produced metrics, was correct and failed nothing."""
    return "metrics" in run and run["correct"] and run["failed"] == 0


def metric_values(runs, name):
    return [r["metrics"][name]["value"] for r in runs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--keys", help="k1,k2: per-key counts instead")
    ap.add_argument("--data", default="/root/testdata/sf0.1",
                    help="corpus of --keys (default /root/testdata/sf0.1)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--repeat", type=int, default=1,
                    help="--keys: traced JVMs per side (default 1)")
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--base", default="HEAD",
                    help="git revision, or WORKTREE (default HEAD)")
    ap.add_argument("--change", default=WORKTREE,
                    help="git revision, or WORKTREE (the default)")
    ap.add_argument("--traced", action="store_true",
                    help="also run one --trace 1 call per side")
    ap.add_argument("--workdir")
    a = ap.parse_args()
    if a.workload and a.seed0 is None:
        ap.error("--workload needs --seed0")
    if a.repeat < 1:
        ap.error("--repeat must be at least 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    workdir = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    sides = {}
    for side, rev in (("base", a.base), ("change", a.change)):
        d = os.path.join(workdir, side)
        sides[side] = {"rev": rev, "dir": d, "label": materialize(rev, d)}
        print(f"{side}: {rev} ({sides[side]['label']}) in {d}", flush=True)
    if a.keys:
        return 0 if compare_keys(a, sides, workdir) else 1

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
    print(PAIRED_HEADER)
    for m in bench["end_to_end"] if complete else []:
        name = m["name"]
        b = metric_values([runs["base"][i] for i in complete], name)
        c = metric_values([runs["change"][i] for i in complete], name)
        report[name], line = paired_line(name, b, c, m["better"], a.pairs,
                                         ok, m["unit"])
        print(line)
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
