#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and
the harness from source with sbt (perfbench/build.sbt); later calls
reuse the build while no source is newer. Workloads are defined in
perfbench/workloads.json. Each call prints one `name value unit` line
per metric and, as its last stdout line, a JSON summary:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
measured with tracing off; with --trace 1 they are the per-layer ones,
taken from one traced pass after the untraced timed section. The full
record (per-key times, layer counts, spans) is written to
perfbench/out/results/. Exit code 0 only when a result was printed.

    python3 perfbench/run.py --selftest     checks the timed section
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
HEAP = "3g"
# Spark runs on half the machine's cores, so JIT, GC and a stolen vCPU
# do not stall a stage.
CORES = max(1, (os.cpu_count() or 2) // 2)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData").strip()
    return env


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources missing: {ENGINE_SRC}")
    inputs = [os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    if not (os.path.isfile(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_mtime(inputs)):
        log("building engine and harness with sbt")
        os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
        with open(os.path.join(OUT, "logs", "build.log"), "w") as lf:
            rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeClasspath"], HERE, lf, BUILD_LIMIT_S,
                             env=sbt_env())
        if rc != 0 or not os.path.isfile(CLASSPATH_FILE):
            tail(os.path.join(OUT, "logs", "build.log"))
            raise BenchError(f"build failed (exit {rc})")
    with open(CLASSPATH_FILE) as f:
        return f.read().strip()


def run_process(cmd, cwd, logf, limit, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout or
    interrupt and waits until it has ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=logf,
                            stderr=subprocess.STDOUT, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit:.0f}s; killed")
        return -1
    finally:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            lines = f.readlines()[-n:]
        sys.stderr.write("".join(lines))
    except OSError:
        pass


def run_jvm(classpath, work, args, log_path, limit):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    # a fixed-size heap and the throughput collector, so GC work does not
    # depend on how the heap was sized as it grew
    cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={CORES}",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Dperfbench.cores={CORES}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(log_path, "w") as lf:
        rc = run_process(cmd, work, lf, limit, env=env)
    if rc != 0 or not os.path.isfile(args["out"]):
        tail(log_path)
        raise BenchError(f"measurement JVM failed (exit {rc})")
    with open(args["out"]) as f:
        return json.load(f)


# ---------------------------------------------------------- ingest input

def stage_chunks(events_path, dest, spec, seed):
    """Writes the events table as chronological chunk files with seeded
    duplicate re-sends and late rows. Returns the late event ids and
    the staging (wall, CPU) seconds."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t0, c0 = time.perf_counter(), time.process_time()
    tbl = pq.read_table(events_path)
    ts_us = pc.cast(pc.cast(tbl["ts"], pa.timestamp("us")), pa.int64())
    tbl = tbl.append_column("ts_us", ts_us)
    tbl = tbl.take(pc.sort_indices(tbl, [("ts_us", "ascending"),
                                         ("event_id", "ascending")]))
    n, c = tbl.num_rows, spec["chunks"]
    bounds = [n * i // c for i in range(c + 1)]
    rows = {i: list(range(bounds[i], bounds[i + 1])) for i in range(c)}
    ts = tbl["ts_us"].to_pylist()
    max_ts = [ts[bounds[i + 1] - 1] for i in range(c)]
    rng = random.Random(seed)
    horizon = spec["late_margin_us"]
    late = []
    for _ in range(spec["late_rows"]):
        src = rng.randrange(0, c - 3)
        dst = min(c - 1, src + rng.randint(3, 5))
        r = rng.choice(rows[src])
        # Late: older than the watermark batch dst filters with. Spark
        # filters late rows against the previous batch's watermark, so
        # that is the max event time of chunks before dst - 1, minus the
        # pipeline's delay; the margin exceeds the delay.
        if ts[r] < max_ts[dst - 2] - horizon and r not in late:
            rows[src].remove(r)
            rows[dst].append(r)
            late.append(r)
    for _ in range(spec["duplicate_rows"]):
        src = rng.randrange(0, c - 1)
        dst = min(c - 1, src + rng.randint(1, 2))
        rows[dst].append(rng.choice(rows[src]))
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    base = time.time() - 3600
    for i in range(c):
        path = os.path.join(dest, f"chunk-{i:03d}.parquet")
        pq.write_table(tbl.take(pa.array(rows[i], pa.int64())), path)
        os.utime(path, (base + i, base + i))
    ids = tbl["event_id"].to_pylist()
    return [ids[r] for r in late], (time.perf_counter() - t0,
                                    time.process_time() - c0)


# --------------------------------------------------------------- metrics

# Thread CPU seconds of the calibration job (Main.calibrate) on the
# machine in perfbench/README.md with a calm host. An operation's CPU time
# is scaled by CALIB_REF_S / (the mean of the calibrations just before
# and after it), so the metrics read in CPU seconds of that reference
# speed and a host that runs the machine slower does not show as a
# slower engine.
CALIB_REF_S = 0.14


def scaled(cpu_s, calib_s):
    return cpu_s * CALIB_REF_S / calib_s


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# Per-layer metrics summed over the traced pass's operations.
LAYER_SUMS = [
    "operators.build_s", "operators.build_jobs", "plans.plan_s",
    "plans.exchanges", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.delay_s", "sched.idle_s", "scan.bytes", "scan.rows",
    "scan.tasks", "scan.stage_s", "pin.count", "pin.bytes", "pin.sweep_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.spill_bytes", "shuffle.partitions"]
# Streaming and sink layers, which only the ingest workload runs; the
# phase times are given as shares of the micro-batch time.
STREAM_LAYERS = [
    "stream.batches", "stream.plan_share", "stream.source_share",
    "stream.commit_share", "stream.state_rows", "stream.late_dropped",
    "stream.rows_per_s", "sink.write_share", "sink.files", "sink.bytes",
    "sink.bytes_per_input_byte", "sink.readback_share"]


def query_result(raw, expected, trace):
    by_key = {}
    for t in raw["tries"]:
        by_key.setdefault(t["key"], []).append(t)
    attempted = failed = 0
    keys = {}
    for k, tries in sorted(by_key.items()):
        want = expected.get(k)
        bad = []
        for t in tries:
            attempted += 1
            if t["error"] is not None:
                bad.append(f"pass {t['pass']}: {t['error']}")
            elif t["rows"] != want:
                bad.append(f"pass {t['pass']}: {t['rows']} rows, "
                           f"expected {want}")
        failed += len(bad)
        cold = [t for t in tries if t["pass"] == 0][0]
        steady = [t for t in tries if t["pass"] > 0]
        keys[k] = {"cold_s": cold["total_s"],
                   "cold_cpu_s": scaled(cold["cpu_s"], cold["calib_s"]),
                   "steady_s": [t["total_s"] for t in steady],
                   "steady_cpu_s": [scaled(t["cpu_s"], t["calib_s"])
                                    for t in steady],
                   "rows": cold["rows"], "expected_rows": want,
                   "cold_compiles": cold["compiles"],
                   "cold_compile_s": cold["compile_s"],
                   "tries": tries, "failures": bad}
    # CPU per steady pass is a mean: the JIT keeps compiling through the
    # steady passes, and their total CPU varies less than any one pass
    cpu = [statistics.fmean(v["steady_cpu_s"]) for v in keys.values()]
    wall = [statistics.median(v["steady_s"]) for v in keys.values()]
    e2e = {"pass_cpu_s": sum(cpu),
           "cold_pass_cpu_s": sum(v["cold_cpu_s"] for v in keys.values()),
           "op_cpu_geomean_ms": 1e3 * geomean(cpu),
           "peak_heap_mb": max(t["live_heap_mb"] for t in raw["tries"]
                               if t["pass"] <= 1)}
    e2e_wall = {"pass_s": sum(wall),
                "cold_pass_s": sum(v["cold_s"] for v in keys.values()),
                "op_geomean_ms": 1e3 * geomean(wall)}
    layers = None
    if trace:
        tr = raw["traced"]
        for k, lc in tr["keys"].items():
            attempted += 1
            err = tr["errors"].get(k)
            if err is not None or lc["rows"] != expected.get(k):
                failed += 1
                keys[k]["failures"].append(
                    f"traced: {err or int(lc['rows'])} rows")
            keys[k]["layers"] = lc
        per = list(tr["keys"].values())
        layers = {m: sum(lc[m] for lc in per) for m in LAYER_SUMS}
        layers.update({
            "exec.straggler_ratio": statistics.median(
                lc["exec.straggler_ratio"] for lc in per),
            "codegen.compiles": sum(v["cold_compiles"] for v in keys.values()),
            "codegen.compile_s": sum(
                v["cold_compile_s"] for v in keys.values()),
            "op.p50_ms": 1e3 * statistics.median(lc["total_s"] for lc in per),
            **{m: 0.0 for m in STREAM_LAYERS},
            "trace.overhead_s":
                sum(lc["total_s"] for lc in per) - e2e_wall["pass_s"]})
    return attempted, failed, e2e, e2e_wall, layers, {"keys": keys}


def ingest_result(raw, trace):
    attempted = failed = 0
    problems = []
    for r in raw["replays"] + ([raw["traced"]["replay"]] if trace else []):
        attempted += 1
        if r["problems"]:
            failed += 1
            problems.append({"replay": r["replay"], "problems": r["problems"]})
    cold, steady = raw["replays"][0], raw["replays"][1:]

    def cpu(r):
        return scaled(r["drain_cpu_s"], r["drain_calib_s"]) + \
            scaled(r["readback_cpu_s"], r["readback_calib_s"])

    def wall(r):
        return r["drain_s"] + r["readback_s"]

    e2e = {"pass_cpu_s": statistics.fmean(cpu(r) for r in steady),
           "cold_pass_cpu_s": cpu(cold),
           "op_cpu_geomean_ms": geomean(
               [scaled(b, r["drain_calib_s"]) for r in steady
                for b in r["batch_cpu_ms"]]),
           "peak_heap_mb": max(r["live_heap_mb"] for r in raw["replays"][:2])}
    e2e_wall = {"pass_s": statistics.median(wall(r) for r in steady),
                "cold_pass_s": wall(cold),
                "op_geomean_ms": geomean(
                    [b for r in steady for b in r["batch_ms"]])}
    detail = {"replays": raw["replays"], "problems": problems,
              "expected_ids": raw["expected_ids"], "late_ids": raw["late_ids"]}
    layers = None
    if trace:
        tr = raw["traced"]
        rec, lc = tr["replay"], tr["layers"]
        trigger = lc["stream.trigger_s"]
        layers = {m: lc.get(m, 0.0) for m in LAYER_SUMS}
        layers.update({
            "exec.straggler_ratio": lc["exec.straggler_ratio"],
            "codegen.compiles": cold["compiles"],
            "codegen.compile_s": cold["compile_s"],
            "op.p50_ms": statistics.median(rec["batch_ms"]),
            "stream.batches": lc["stream.batches"],
            "stream.plan_share": lc["stream.plan_s"] / trigger,
            "stream.source_share": lc["stream.source_s"] / trigger,
            "stream.commit_share": lc["stream.commit_s"] / trigger,
            "stream.state_rows": lc["stream.state_rows"],
            "stream.late_dropped": lc["stream.late_dropped"],
            "stream.rows_per_s": rec["input_rows"] / rec["drain_s"],
            "sink.write_share": lc["sink.write_s"] / trigger,
            "sink.files": rec["sink_files"],
            "sink.bytes": rec["sink_bytes"],
            "sink.bytes_per_input_byte": rec["sink_bytes"] / rec["input_bytes"],
            "sink.readback_share": rec["readback_s"] / wall(rec),
            "trace.overhead_s": wall(rec) - e2e_wall["pass_s"]})
        detail["traced"] = {"replay": rec, "layers": lc}
    return attempted, failed, e2e, e2e_wall, layers, detail


def combine(per_jvm):
    """One value per metric from each JVM's: the median of the cold
    passes, the mean of the steady ones, the geometric mean of the
    per-operation means, the largest heap."""
    out = {}
    for m in per_jvm[0]:
        xs = [d[m] for d in per_jvm]
        if m.startswith("cold"):
            out[m] = statistics.median(xs)
        elif "geomean" in m:
            out[m] = geomean(xs)
        elif m.startswith("peak"):
            out[m] = max(xs)
        else:
            out[m] = statistics.fmean(xs)
    return out


# ------------------------------------------------------------------ main

def measure(name, seed, seconds, trace):
    bench = load_json(os.path.join("..", "BENCHMARK.json"))
    workloads = load_json("workloads.json")["workloads"]
    if name not in workloads:
        raise BenchError(f"unknown workload {name}; "
                         f"known: {', '.join(sorted(workloads))}")
    spec = workloads[name]
    classpath = build()
    started = time.time()
    data = os.path.join(DATA, spec["data"])
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    tag = f"{name}-seed{seed}-trace{trace}"
    jvms = spec["jvms"]
    args = {"mode": spec["mode"], "data": data, "seed": seed,
            "seconds": seconds / jvms, "passes": spec["steady_passes"]}
    staging = []
    if spec["mode"] == "queries":
        args["keys"] = ",".join(spec["keys"])
        args["tables"] = ",".join(spec["tables"])
        expected = load_json("expected_rows.json")[spec["data"]]
        expected = {k: v["rows"] for k, v in expected.items()}

        def result(raw, traced):
            return query_result(raw, expected, traced)
    else:
        for _ in range(3):
            late, dt = stage_chunks(os.path.join(data, "events.parquet"),
                                    os.path.join(work, "chunks"), spec, seed)
            staging.append(dt)
        late_path = os.path.join(work, "late_ids.txt")
        with open(late_path, "w") as f:
            f.write("".join(f"{i}\n" for i in late))
        args.update(chunks=os.path.join(work, "chunks"), late=late_path)
        result = ingest_result
    # Each JVM sets up, runs its cold pass and its steady passes; only the
    # last one runs the traced pass.
    runs = []
    for j in range(jvms):
        jwork = os.path.join(work, f"jvm{j}")
        traced = trace and j == jvms - 1
        raw = run_jvm(classpath, jwork,
                      dict(args, work=jwork, trace=int(traced),
                           out=os.path.join(jwork, "raw.json")),
                      os.path.join(OUT, "logs", f"{tag}-jvm{j}.log"),
                      RUN_LIMIT_S - (time.time() - started))
        runs.append((raw, *result(raw, traced)))
    raws = [r[0] for r in runs]
    attempted = sum(r[1] for r in runs)
    failed = sum(r[2] for r in runs)
    e2e = combine([r[3] for r in runs])
    e2e_wall = combine([r[4] for r in runs])
    layers = runs[-1][5]
    setups = [x for raw in raws for x in raw["setups_s"]]
    setups_cpu = [x for raw in raws for x in raw["setups_cpu_s"]]
    e2e = {"setup_s": statistics.median(raw["jvm_start_cpu_s"] for raw in raws)
           + statistics.median(setups_cpu)
           + statistics.median([c for _, c in staging] or [0.0]), **e2e}
    e2e_wall["setup_s"] = statistics.median(raw["jvm_start_s"] for raw in raws) \
        + statistics.median(setups) \
        + statistics.median([w for w, _ in staging] or [0.0])
    values = layers if trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in bench["per_layer" if trace else "end_to_end"]}
    summary = {"correct": failed == 0, "attempted": attempted,
               "failed": failed, "metrics": metrics}
    record = {"workload": name, "seed": seed, "seconds": seconds,
              "trace": trace, "cpus": raws[0]["cpus"], "summary": summary,
              "end_to_end": e2e, "wall": e2e_wall, "per_layer": layers,
              "staging_s": staging, "failed_frac": failed / attempted,
              "jvms": [{
                  "setups_s": raw["setups_s"],
                  "setups_cpu_s": raw["setups_cpu_s"],
                  "jvm_start_s": raw["jvm_start_s"],
                  "jvm_start_cpu_s": raw["jvm_start_cpu_s"],
                  "vm_hwm_mb": raw["vm_hwm_mb"],
                  "warmup_s": raw.get("warmup_s"),
                  "timed_s": raw["timed_s"],
                  "steal_share": raw["steal_share"],
                  "thread_cpu_s": raw["thread_cpu_s"],
                  "end_to_end": jvm_e2e, "wall": jvm_wall, **detail}
                  for raw, _, _, jvm_e2e, jvm_wall, _, detail in runs],
              "spans": (raws[-1].get("traced") or {}).get("spans", [])}
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return summary


def selftest():
    classpath = build()
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    raw = run_jvm(classpath, work,
                  {"mode": "selftest", "data": os.path.join(DATA, "sf0.1"),
                   "work": work, "out": os.path.join(work, "raw.json")},
                  os.path.join(OUT, "logs", "selftest.log"), RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    for c, ok in sorted(raw["checks"].items()):
        print(f"{'ok  ' if ok else 'FAIL'} {c}")
    return raw["ok"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            return 0 if selftest() else 1
        if not a.workload:
            ap.error("--workload is required")
        s = measure(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log(str(e))
        return 2
    for k, m in s["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
