#!/usr/bin/env python3
"""Compare two graft.Bench JSON outputs (e.g. across rounds).

Usage: python3 scripts/bench_compare.py BENCH_old BENCH_new

Each argument is a raw capture of Bench's stdout (sbt's "[info] "
prefixes are fine) or its target/bench_summary.json. Bench prints a
compact "total_summary" line before and after the full "total" line;
only the full line carries the per-query map, so that is the one read.
"""
import json, re, sys

RECORD = re.compile(r'\{"metric".*\}')


def load(path):
    metrics = []
    with open(path) as f:
        for line in f:
            m = RECORD.search(line)
            if not m:
                continue
            try:
                rec = json.loads(m.group(0))
            except json.JSONDecodeError:
                continue
            if rec.get("metric") == "total":
                return rec
            metrics.append(rec.get("metric"))
    if metrics:
        raise SystemExit(
            f"{path}: only {sorted(set(metrics))} lines, no full "
            '{"metric":"total"} line with the per-query map (was the capture '
            "truncated? target/bench_summary.json has the full line)")
    raise SystemExit(f"{path}: no bench JSON found")


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    oq, nq = old["queries"], new["queries"]
    print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({new['value'] - old['value']:+.1f}s)")
    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None:
            rows.append((b, f"  NEW  {name}: {b:.2f}s"))
        elif b is None:
            rows.append((0, f"  GONE {name} (was {a:.2f}s)"))
        else:
            d = b - a
            if abs(d) >= 0.3:
                rows.append((abs(d), f"  {'+' if d > 0 else '-'}{abs(d):4.1f}s {name}: {a:.2f} -> {b:.2f}"))
    for _, line in sorted(rows, reverse=True):
        print(line)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit("usage: python3 scripts/bench_compare.py BENCH_old BENCH_new")
    main(sys.argv[1], sys.argv[2])
