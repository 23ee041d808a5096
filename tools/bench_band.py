#!/usr/bin/env python3
"""Fold N graft.Bench output snapshots into BAND.json (VERDICT r13 #5).

The suite-spread band ("four full runs landed in 133.1-159.3 s") used to
live as prose in DESIGN §15.5a; this makes it a re-runnable artifact.

Usage:
    python3 tools/bench_band.py OUT.json run1.json run2.json [...]

Each runN.json is a graft.Bench output line:
    {"metric":"total","value":N,"unit":"sec","queries":{k:sec,...},"sf":...}

OUT.json records:
    runs        - per-input file: total + key count
    total_band  - [min, max] of the per-run totals
    keys        - per key: min / median / max across runs + spread (max/min);
                  runs that carry per-attempt "tries" add cold_ratio =
                  worst try1/median (cold-draw cost, VERDICT r14 #7)
    top_spread  - the 15 keys with the widest relative spread, only among
                  keys whose max >= 0.5 s (sub-second keys flap on noise
                  and would drown the list)
"""
import json
import statistics
import sys


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_path, run_paths = sys.argv[1], sys.argv[2:]
    runs, keymap, keysets = [], {}, []
    trymap = {}
    for p in run_paths:
        with open(p) as f:
            d = json.load(f)
        qs = d.get("queries", {})
        for k, t in d.get("tries", {}).items():
            if isinstance(t, list) and t:
                trymap.setdefault(k, []).append(t)
        if not isinstance(d.get("value"), (int, float)):
            print(f"bench_band: {p} has no numeric 'value' field "
                  "(truncated or per-key-only snapshot?)", file=sys.stderr)
            return 2
        runs.append(
            {"file": p, "total": d["value"], "keys": len(qs),
             "sf": d.get("sf")})
        keysets.append(set(qs))
        for k, v in qs.items():
            keymap.setdefault(k, []).append(v)
    # a band is only meaningful over SAME-SUITE runs: folding a
    # SPARK_GRAFT_ONLY subset or a different-sf snapshot in would make
    # total_band's min a bogus subset total — refuse, don't warn
    if any(ks != keysets[0] for ks in keysets):
        print("bench_band: input runs cover DIFFERENT key sets "
              f"({sorted(len(k) for k in keysets)}) — a mixed band is "
              "meaningless; pass full-suite runs only", file=sys.stderr)
        return 2
    if len({r["sf"] for r in runs}) > 1:
        print("bench_band: input runs were taken at different sf dirs "
              f"({sorted({str(r['sf']) for r in runs})}) — refuse to fold",
              file=sys.stderr)
        return 2
    common = set.intersection(*keysets) if keysets else set()
    keys = {}
    for k, vs in sorted(keymap.items()):
        lo, hi = min(vs), max(vs)
        keys[k] = {
            "n": len(vs),
            "min": round(lo, 3),
            "med": round(statistics.median(vs), 3),
            "max": round(hi, 3),
            "spread": round(hi / lo, 2) if lo > 0 else None,
        }
        # cold-cost fold (VERDICT r14 #7): runs that carry per-attempt
        # "tries" expose try1 (the cold draw) vs the key's median —
        # the worst try1/median across runs adjudicates driver-route
        # cold readings without a rerun. Ratio uses the RAW
        # median, not the display-rounded one (a 0.001-rounded median
        # skews fast keys' ratios by tens of percent); a run with any
        # non-positive attempt time is a CRASH record (Bench negates
        # crashed attempts) and is excluded with a marker instead of
        # folding a fast-failing exception into the ratio.
        raw_med = statistics.median(vs)
        crashed = [t for t in trymap.get(k, []) if any(x <= 0 for x in t)]
        ratios = [
            t[0] / raw_med
            for t in trymap.get(k, [])
            if t not in crashed and len(t) > 0 and raw_med > 0
        ]
        if crashed:
            keys[k]["crashed_runs"] = len(crashed)
        if ratios:
            keys[k]["cold_ratio"] = round(max(ratios), 2)
    top = sorted(
        (k for k, s in keys.items() if s["max"] >= 0.5 and s["n"] > 1),
        key=lambda k: -(keys[k]["spread"] or 0),
    )[:15]
    band = {
        "runs": runs,
        "total_band": [
            round(min(r["total"] for r in runs), 1),
            round(max(r["total"] for r in runs), 1),
        ],
        "common_keys": len(common),
        "keys": keys,
        "top_spread": [{"key": k, **keys[k]} for k in top],
    }
    with open(out_path, "w") as f:
        json.dump(band, f, indent=1)
        f.write("\n")
    print(
        f"BAND: {len(runs)} runs, totals "
        f"{band['total_band'][0]}-{band['total_band'][1]} s, "
        f"{len(common)} common keys -> {out_path}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
