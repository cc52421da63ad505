#!/usr/bin/env python3
"""Compare two benchmark result sets, counters first.

    python3 perfbench/bench_diff.py results/base results/change

A result set is a directory of ``<workload>.trace<0|1>.jsonl`` files,
one result line per run as ``run.py`` prints it, e.g.::

    for s in 1 2 3 4 5; do
      python3 perfbench/run.py --workload qc_query --seed $s --seconds 10 --trace 0 \\
        | tail -n 1 >> results/base/qc_query.trace0.jsonl
    done

For every workload and end-to-end metric it prints each side's median
and quartiles and whether the change is within the metric's bound from
``BENCHMARK.json``. It then lists the per-layer counters (units
``count``, ``B`` and ``ratio``, which repeat exactly between traced
runs of one commit) whose median moved, as counts: a wall-clock change
with no counter change is more likely host drift than a code effect.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

COUNTER_UNITS = {"count", "B", "ratio"}


def load(path: str) -> dict:
    """{(workload, trace): [result, ...]}"""
    out = {}
    for f in sorted(glob.glob(os.path.join(path, "*.trace[01].jsonl"))):
        workload, trace = os.path.basename(f)[: -len(".jsonl")].rsplit(".trace", 1)
        with open(f) as fh:
            out[(workload, int(trace))] = [json.loads(line) for line in fh if line.strip()]
    return out


def summary(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def values(runs: list[dict], metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(argv[1]), load(argv[2])
    print("end-to-end: median [q1, q3] (n)")
    for wl in [w["name"] for w in spec["workloads"]]:
        ra, rb = a.get((wl, 0), []), b.get((wl, 0), [])
        fails = sum(r["failed"] for r in ra), sum(r["failed"] for r in rb)
        print(f"{wl}: failed ops {fails[0]} -> {fails[1]}")
        for m in spec["end_to_end"]:
            xa, xb = values(ra, m["name"]), values(rb, m["name"])
            if not xa or not xb:
                print(f"  {m['name']:20s} missing")
                continue
            (ma, qa1, qa3), (mb, qb1, qb3) = summary(xa), summary(xb)
            worse = (mb - ma) / ma * (1 if m["better"] == "lower" else -1)
            spread = (qa3 - qa1) / ma
            verdict = ("unresolved (spread > bound)" if spread > m["bound"] else
                       "worse than bound" if worse > m["bound"] else
                       "better" if worse < -spread else "within bound")
            print(f"  {m['name']:20s} {ma:10.4g} [{qa1:.4g}, {qa3:.4g}] ({len(xa)})"
                  f"  ->  {mb:10.4g} [{qb1:.4g}, {qb3:.4g}] ({len(xb)})"
                  f"  {-worse:+.1%} better, bound {m['bound']:.0%}: {verdict}")
    print("\nper-layer counters that moved (median per request, as counts):")
    counters = [m["name"] for m in spec["per_layer"] if m["unit"] in COUNTER_UNITS]
    moved = 0
    for wl in [w["name"] for w in spec["workloads"]]:
        ra, rb = a.get((wl, 1), []), b.get((wl, 1), [])
        for name in counters:
            xa, xb = values(ra, name), values(rb, name)
            if xa and xb and statistics.median(xa) != statistics.median(xb):
                moved += 1
                ma, mb = statistics.median(xa), statistics.median(xb)
                print(f"  {wl:14s} {name:45s} {ma:.6g} -> {mb:.6g} ({mb - ma:+.6g})")
    if not moved:
        print("  none")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
