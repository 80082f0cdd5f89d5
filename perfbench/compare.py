#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric, by name.

Usage:

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are each a run record written by perfbench/run.py (one
JSON file per run, in perfbench/work/records/), a directory of them, or a
JSON-lines file with one record per line. Runs are grouped by workload
and by traced/untraced.

For every metric the table shows each side's median and quartiles (as
statistics.quantiles(values, n=4) gives them) and, for the end-to-end
metrics, a verdict against the bound in BENCHMARK.json:

  worse       AFTER's median is worse than BEFORE's by more than the bound
  better      AFTER's median is better by more than the bound
  same        the medians differ by less than the bound
  unresolved  no worse than the bound, but one side's quartile spread is
              wider than the bound, so "same" cannot be claimed
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))
                 if f.endswith(".json")]
        return [r for f in files for r in load(f)]
    with open(path) as fh:
        text = fh.read().strip()
    try:
        return [json.loads(text)]
    except json.JSONDecodeError:
        return [json.loads(line) for line in text.splitlines() if line.strip()]


def group(records):
    out = {}
    for r in records:
        key = (r["workload"], r["trace"])
        for name, m in r["named"].items():
            out.setdefault(key, {}).setdefault(name, []).append(m["value"])
        failed = r["result"]["failed"] / max(1, r["result"]["attempted"])
        out.setdefault(key, {}).setdefault("failed_frac", []).append(failed)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(before, after, better, bound):
    b1, bm, b3 = quartiles(before)
    a1, am, a3 = quartiles(after)
    if bm == 0:
        return "same" if am == 0 else "worse"
    change = (am - bm) / abs(bm)
    worse = change > bound if better == "lower" else change < -bound
    improved = change < -bound if better == "lower" else change > bound
    spread = max((b3 - b1) / abs(bm), (a3 - a1) / abs(am) if am else 0.0)
    if worse:
        return "worse"
    if spread > bound:
        return "unresolved"
    return "better" if improved else "same"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    before, after = (group(load(p)) for p in sys.argv[1:])
    worse = 0
    for key in sorted(set(before) | set(after)):
        workload, trace = key
        print(f"== {workload} ({'traced' if trace else 'untraced'}), runs: "
              f"{len(before.get(key, {}).get('failed_frac', []))} before, "
              f"{len(after.get(key, {}).get('failed_frac', []))} after")
        print(f"  {'metric':32s} {'before q1/median/q3':>34s} "
              f"{'after q1/median/q3':>34s} {'change':>8s}  verdict")
        names = list(before.get(key, {})) + [
            n for n in after.get(key, {}) if n not in before.get(key, {})]
        for name in names:
            b, a = before.get(key, {}).get(name), after.get(key, {}).get(name)
            if not b or not a:
                print(f"  {name:32s} only on one side")
                continue
            bq, aq = quartiles(b), quartiles(a)
            change = (aq[1] - bq[1]) / abs(bq[1]) if bq[1] else float("nan")
            v = "-"
            if name in bounds and not trace:
                m = bounds[name]
                v = verdict(b, a, m["better"], m["bound"])
                worse += v == "worse"
            print(f"  {name:32s} {bq[0]:11.4g} {bq[1]:11.4g} {bq[2]:11.4g} "
                  f"{aq[0]:11.4g} {aq[1]:11.4g} {aq[2]:11.4g} {change:+8.1%}  {v}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
