#!/usr/bin/env python3
"""Regenerates perfbench/expected_rows.json, the row count each key of the
query workloads must return at its workload's scale.

    python3 perfbench/oracle_counts.py

For a key with oracle SQL (`SparkEntry.oracleSql`) the count comes from
DuckDB running that SQL over the benchmark's copy of the tables. The keys
without oracle SQL (sketch, LSH and IVF keys) run once in Spark and their
count is stored as measured.
"""
import json
import os
import shutil
import sys

import duckdb

import run


def counts_for(scale, keys, classpath):
    data = os.path.join(run.DATA, scale)
    work = os.path.join(run.OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(run.OUT, "logs"), exist_ok=True)
    raw = run.run_jvm(classpath, work,
                      {"mode": "oracle", "data": data, "work": work,
                       "keys": ",".join(keys),
                       "out": os.path.join(work, "raw.json")},
                      os.path.join(run.OUT, "logs", f"oracle-{scale}.log"),
                      600)
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    out = {}
    for k in keys:
        r = raw["keys"][k]
        if "sql" in r:
            n = con.execute(f"SELECT count(*) FROM ({r['sql']})").fetchone()[0]
            out[k] = {"rows": n, "source": f"duckdb {duckdb.__version__}"}
        else:
            if r["error"] is not None or r["spark_rows"] < 0:
                raise run.BenchError(f"{k} failed in Spark: {r['error']}")
            out[k] = {"rows": r["spark_rows"], "source": "spark"}
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    workloads = run.load_json("workloads.json")["workloads"]
    scales = {}
    for w in workloads.values():
        if w["mode"] == "queries":
            scales.setdefault(w["data"], []).extend(w["keys"])
    classpath = run.build()
    result = {s: counts_for(s, sorted(set(k)), classpath)
              for s, k in sorted(scales.items())}
    with open(os.path.join(run.HERE, "expected_rows.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    for s, c in result.items():
        print(f"{s}: {len(c)} keys")
    return 0


if __name__ == "__main__":
    sys.exit(main())
