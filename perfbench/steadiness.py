#!/usr/bin/env python3
"""Steadiness check: run every workload with several seeds and report, for
each end-to-end metric, the median and the spread (distance between the
first and third quartile as a share of the median), against the bounds in
BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 \
        --out perfbench/evidence/set1.json
    python3 perfbench/steadiness.py --compare perfbench/evidence/set1.json \
        perfbench/evidence/set2.json
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def stats(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def collect(runs, first_seed):
    b = spec()
    out = {}
    for w in b["workloads"]:
        results = []
        for i in range(runs):
            p = subprocess.run(
                [*b["command"], "--workload", w["name"], "--seed",
                 str(first_seed + i), "--seconds", str(b["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w['name']} seed {first_seed + i} failed:\n"
                         f"{p.stdout[-2000:]}{p.stderr[-2000:]}")
            results.append(json.loads(p.stdout.strip().splitlines()[-1]))
            print(w["name"], first_seed + i, json.dumps(
                {k: round(v["value"], 4)
                 for k, v in results[-1]["metrics"].items()}), flush=True)
        out[w["name"]] = {m["name"]: stats([r["metrics"][m["name"]]["value"]
                                            for r in results])
                          for m in b["end_to_end"]}
    return out


def report(sets):
    b = spec()
    ok = True
    for w in b["workloads"]:
        for m in b["end_to_end"]:
            row = [sets[i][w["name"]][m["name"]] for i in range(len(sets))]
            line = "  ".join(f"median {r['median']:.4g} spread {r['spread']:.3f}"
                             for r in row)
            verdict = ""
            if any(r["spread"] > m["bound"] for r in row):
                verdict, ok = " SPREAD>BOUND", False
            if len(row) == 2:
                a, c = row[0]["median"], row[1]["median"]
                worse = (a - c) / a if m["better"] == "higher" else (c - a) / a
                line += f"  second vs first {worse:+.3f}"
                if worse > m["bound"]:
                    verdict, ok = verdict + " MEDIAN>BOUND", False
            print(f"{w['name']:13} {m['name']:15} bound {m['bound']:.2f}  "
                  f"{line}{verdict}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    if a.compare:
        sets = []
        for path in a.compare:
            with open(path) as f:
                sets.append(json.load(f))
        sys.exit(0 if report(sets) else 1)
    res = collect(a.runs, a.first_seed)
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(res, f, indent=1)
    sys.exit(0 if report([res]) else 1)


if __name__ == "__main__":
    main()
