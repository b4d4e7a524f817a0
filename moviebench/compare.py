#!/usr/bin/env python3
"""Compares two sets of benchmark results, metric by metric and workload by
workload, with the bounds of BENCHMARK.json.

  python3 moviebench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds the lines `run.py --record FILE` appended, untraced runs of
one side; runs are paired in file order, so record them alternating between
the two sides. Results whose host fingerprints differ are refused (exit 2):
only the commit and the source digest may differ between the sides.
For an A/A check, record both files from the same code: every verdict
should read `unchanged`.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def load(path):
    with open(path) as f:
        return [r for r in map(json.loads, filter(str.strip, f)) if r["trace"] == 0]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
    with open(bench) as f:
        metrics = json.load(f)["end_to_end"]
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    if not parent or not change:
        sys.exit("compare: both files need untraced results")
    base = parent[0]["fingerprint"]
    for r in parent + change:
        diff = stats.fingerprint_mismatch(base, r["fingerprint"])
        if diff:
            print(f"compare: refused, host fingerprints differ in {', '.join(diff)}",
                  file=sys.stderr)
            sys.exit(2)
    failed = False
    for w in sorted({r["workload"] for r in parent} & {r["workload"] for r in change}):
        p = [r["result"] for r in parent if r["workload"] == w]
        c = [r["result"] for r in change if r["workload"] == w]
        print(f"{w}: {len(p)} parent runs, {len(c)} change runs, failed ops "
              f"{sum(x['failed'] for x in p)}/{sum(x['attempted'] for x in p)} vs "
              f"{sum(x['failed'] for x in c)}/{sum(x['attempted'] for x in c)}")
        for m in metrics:
            pv = [x["metrics"][m["name"]]["value"] for x in p]
            cv = [x["metrics"][m["name"]]["value"] for x in c]
            v = stats.verdict(pv, cv, m["bound"], m["better"])
            failed |= v in ("regressed", "unresolved")
            n = min(len(pv), len(cv))
            print(f"  {m['name']:<16} {v:<11} parent {stats.median(pv):.4g} "
                  f"(spread {stats.spread(pv):.3f}) change {stats.median(cv):.4g} "
                  f"(spread {stats.spread(cv):.3f}) {m['unit']}, worse by "
                  f"{stats.worse_by(pv, cv, m['better']):+.3f} (bound {m['bound']}), "
                  f"change wins {stats.wins(list(zip(pv[:n], cv[:n])), m['better'])}/{n}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
