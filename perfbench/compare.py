#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are directories of run records (copies of
`.bench_work/results/` made on each commit) or glob patterns of record
files. Only untraced runs count. For each workload and end-to-end metric of
BENCHMARK.json, one row gives each side's median and quartiles, the share
of pairs the change wins, and a verdict:

* better: the change wins at least nine tenths of the pairs (ties count for
  neither side) and the medians differ by more than the base's own
  quartile distance;
* worse: the change's median is worse than the base's by more than the
  metric's bound;
* unresolved: the base's quartile distance is wider than the bound, so a
  change within it cannot be told from noise, unless every change run reads
  better (then better) or worse (then worse) than every base run;
* within bound: none of the above.

Runs pair up by seed when both sides ran the same seeds, else in order.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def records(spec):
    files = glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec) else glob.glob(spec)
    out = []
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0:
            out.append(r)
    return out


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def pair_runs(base, change):
    """Pairs by seed when both sides ran the same seeds, else in order."""
    bs = {r["seed"]: r for r in base}
    cs = {r["seed"]: r for r in change}
    if set(bs) == set(cs) and len(bs) == len(base) == len(change):
        return [(bs[s], cs[s]) for s in sorted(bs)]
    return list(zip(base, change))


def row(metric, better, bound, bv, cv, pairs):
    sign = 1 if better == "higher" else -1
    b1, bm, b3 = quartiles(bv)
    c1, cm, c3 = quartiles(cv)
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    losses = sum(1 for b, c in pairs if sign * (c - b) < 0)
    won = wins / len(pairs) if pairs else float("nan")
    spread = (b3 - b1) / abs(bm) if bm else float("inf")
    worse_by = -sign * (cm - bm) / abs(bm) if bm else float("inf")
    all_better = all(sign * (c - b) > 0 for c in cv for b in bv)
    all_worse = all(sign * (c - b) < 0 for c in cv for b in bv)
    if won >= 0.9 and abs(cm - bm) > (b3 - b1):
        v = "better"
    elif worse_by > bound:
        v = "worse" if spread <= bound or all_worse else "unresolved"
    elif spread > bound:
        v = "better" if all_better else "unresolved"
    else:
        v = "within bound"
    return (f"{metric:14s} base {bm:.4g} [{b1:.4g}, {b3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]"
            f"  won {wins}/{len(pairs)} (lost {losses})  {v}"), v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = records(a.base), records(a.change)
    if not base or not change:
        sys.exit("compare: each side needs at least one untraced run record")
    verdicts = []
    for w in [x["name"] for x in spec["workloads"]]:
        bw = [r for r in base if r["workload"] == w]
        cw = [r for r in change if r["workload"] == w]
        if not bw or not cw:
            print(f"== {w}: missing on one side ({len(bw)} base, {len(cw)} change runs)")
            continue
        print(f"== {w}: {len(bw)} base runs, {len(cw)} change runs")
        pairs = pair_runs(bw, cw)
        for m in spec["end_to_end"]:
            n = m["name"]
            bv = [r["end_to_end"][n] for r in bw]
            cv = [r["end_to_end"][n] for r in cw]
            line, v = row(n, m["better"], m["bound"], bv, cv,
                          [(b["end_to_end"][n], c["end_to_end"][n]) for b, c in pairs])
            verdicts.append(v)
            print("  " + line)
    print("verdicts: " + ", ".join(f"{v} {verdicts.count(v)}" for v in sorted(set(verdicts))))


if __name__ == "__main__":
    main()
