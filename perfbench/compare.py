#!/usr/bin/env python3
"""Compare two sets of benchmark runs (JSONL files written by sweep.py).

    python3 perfbench/compare.py parent.jsonl change.jsonl
    python3 perfbench/compare.py parent.jsonl          # one set: spreads only

For each workload and metric it prints each side's median and quartiles
(statistics.quantiles(n=4)) and the interquartile spread as a share of
the median, then calls the pair:

- unresolved: either side's spread is wider than the metric's bound
  (improved instead if every change run beats every parent run);
- improved: the change wins at least 9 of 10 alternating parent/change
  pairs (runs matched in file order) and the medians differ by more than
  the parent's interquartile range;
- worse: the change's median is worse than the parent's by more than
  the bound (share of the parent's median);
- within: none of these.

Per-layer metrics have no bound: they are called improved, worse (the
same pair rule in the other direction) or within. When a set holds both
untraced and traced runs of a workload, the difference of their median
pass times is printed as the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict:
    """{(workload, metric): [values in run order]}, plus failure shares."""
    out = defaultdict(list)
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            r = rec.get("result")
            if not r:
                out[(rec["workload"], "_crashed")].append(1)
                continue
            out[(rec["workload"], "_failed_share")].append(r["failed"] / r["attempted"])
            out[(rec["workload"], "_correct")].append(1.0 if r["correct"] else 0.0)
            for m, v in r["metrics"].items():
                out[(rec["workload"], m)].append(v["value"])
    return out


def quartiles(vs: list[float]) -> tuple[float, float, float]:
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def spread(vs: list[float]) -> float:
    q1, q2, q3 = quartiles(vs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def verdict(parent, change, better: str, bound: float | None) -> str:
    sign = 1.0 if better == "lower" else -1.0  # positive = change is better
    _, pm, _ = quartiles(parent)
    _, cm, _ = quartiles(change)
    if bound is not None and max(spread(parent), spread(change)) > bound:
        # unless every change run beats every parent run
        if all(sign * (p - c) > 0 for p in parent for c in change):
            return "improved"
        return "unresolved"
    pairs = list(zip(parent, change))
    wins = sum(sign * (p - c) > 0 for p, c in pairs)
    losses = sum(sign * (c - p) > 0 for p, c in pairs)
    q1, _, q3 = quartiles(parent)
    iqr = q3 - q1
    if pairs and wins >= 0.9 * len(pairs) and sign * (pm - cm) > iqr:
        return "improved"
    if bound is not None:
        return "worse" if sign * (cm - pm) > bound * abs(pm) else "within"
    if pairs and losses >= 0.9 * len(pairs) and sign * (cm - pm) > iqr:
        return "worse"
    return "within"


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load(p) for p in argv]
    keys = sorted(set().union(*sets), key=lambda k: (k[0], k[1]))
    for w, m in keys:
        if m.startswith("_"):
            vals = [s.get((w, m), []) for s in sets]
            print(f"{w:12} {m:34} " + "  ".join(f"{sum(v)}/{len(v)}" if m == "_crashed"
                                                 else f"{statistics.fmean(v):.6f}"
                                                 for v in vals if v))
            continue
        info = spec.get(m, {})
        bound, better = info.get("bound"), info.get("better", "lower")
        cols = []
        for s in sets:
            vs = s.get((w, m), [])
            if vs:
                q1, q2, q3 = quartiles(vs)
                cols.append(f"{q2:12.5g} [{q1:.5g}, {q3:.5g}] spread {spread(vs):.3f}")
            else:
                cols.append(f"{'-':>12}")
        line = f"{w:12} {m:34} " + " | ".join(cols)
        if len(sets) == 2 and all(s.get((w, m)) for s in sets):
            line += "  => " + verdict(sets[0][(w, m)], sets[1][(w, m)], better, bound)
        elif len(sets) == 1 and bound is not None:
            line += "  (bound %.2f%s)" % (bound, ", OVER" if spread(sets[0][(w, m)]) > bound else "")
        print(line)
    for i, s in enumerate(sets):
        for w in sorted({k[0] for k in s}):
            if s.get((w, "pass_s")) and s.get((w, "trace.pass_s")):
                d = statistics.median(s[(w, "trace.pass_s")]) - statistics.median(s[(w, "pass_s")])
                print(f"{w:12} tracing overhead (set {i + 1}): traced minus untraced "
                      f"median pass_s = {d:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
