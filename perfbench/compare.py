#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

Usage: python3 perfbench/compare.py BASE.jsonl NEW.jsonl [--benchmark BENCHMARK.json]

Each file holds run records as `perfbench/run.py` appends them (one JSON
object per line). For every workload and metric present on both sides
it prints each side's median and quartiles over its runs, then a verdict
using the metric's bound and direction from BENCHMARK.json:

  unresolved  either side's spread (Q3 - Q1) / median exceeds the bound,
              so the runs cannot tell the two apart
  worse       NEW's median is worse than BASE's by more than the bound
  better      NEW's median is better than BASE's by more than the bound
  same        otherwise

Per-layer metrics (traced runs) have no bound in BENCHMARK.json; they
are compared against 0.25 so that only large moves are flagged. Exit
status is 1 when any end-to-end metric is worse.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """{(workload, metric): [values]} over the runs in one file."""
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            for name, m in rec["result"]["metrics"].items():
                out.setdefault((rec["workload"], name), []).append(float(m["value"]))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    spec.update({m["name"]: dict(m, bound=0.25) for m in bench["per_layer"]})
    base, new = load(a.base), load(a.new)
    worse = False
    print(f"{'workload':18} {'metric':34} {'base q1/med/q3':>32} {'new q1/med/q3':>32}  verdict")
    for key in sorted(set(base) & set(new)):
        wl, name = key
        m = spec.get(name)
        if m is None:
            continue
        b, n = base[key], new[key]
        bq, nq = quartiles(b), quartiles(n)
        bound = m["bound"]
        if max(spread(b), spread(n)) > bound:
            verdict = "unresolved"
        else:
            gap = (nq[1] - bq[1]) / abs(bq[1]) if bq[1] else 0.0
            if m["better"] == "higher":
                gap = -gap
            verdict = "worse" if gap > bound else "better" if gap < -bound else "same"
            if verdict == "worse" and name in {x["name"] for x in bench["end_to_end"]}:
                worse = True
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{wl:18} {name:34} {fmt(bq):>32} {fmt(nq):>32}  {verdict}"
              f" (n={len(b)}/{len(n)}, bound {bound})")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
