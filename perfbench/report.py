#!/usr/bin/env python3
"""Per-layer report from traced runs.

    python3 perfbench/report.py [--results .bench_work/results]

For each workload, takes the latest traced run (`run.py --trace 1`) and
prints every per-layer metric it produced, by name, grouped by layer:
the Spark scheduler and driver, the graft modules jobs are attributed to,
the `write` layer's commits, Catalyst, execution bytes, the ops by class
and by kind, and the JVM. It then prints the tracing overhead: the drop in
`ops_per_s` of the traced run against the median of the untraced runs of
the same workload and run length.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
GROUPS = [("Spark scheduler / driver", ("spark.",)),
          ("graft modules (jobs by first graft.* frame)",
           tuple(f"{m}." for m in ("write.jobs", "write.job_s", "scale", "streaming",
                                   "ops", "summary", "run", "core", "bench"))),
          ("write layer (VersionedTable)", ("write.commits", "write.files",
                                           "write.chain", "output.")),
          ("Catalyst", ("catalyst.",)),
          ("execution bytes", ("scan.", "shuffle.", "spill.")),
          ("ops by class and kind", ("op.",)),
          ("JVM", ("jvm.",))]


def load(results):
    recs = []
    for f in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(f) as fh:
            recs.append(json.load(fh))
    return recs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--results", default=os.path.join(os.path.dirname(HERE), ".bench_work", "results"))
    a = ap.parse_args()
    recs = load(a.results)
    for w in sorted({r["workload"] for r in recs}):
        traced = [r for r in recs if r["workload"] == w and r["trace"] == 1]
        if not traced:
            print(f"== {w}: no traced run")
            continue
        t = max(traced, key=lambda r: r["time"])
        layers = t["per_layer"]
        print(f"== {w} (seed {t['seed']}, {t['rounds']} rounds, {t['attempted']} ops, "
              f"correct={t['correct']})")
        shown = set()
        for title, prefixes in GROUPS:
            names = [k for k in sorted(layers) if k.startswith(prefixes) and k not in shown]
            if not names:
                continue
            print(f"  -- {title}")
            for k in names:
                shown.add(k)
                print(f"  {k:36s} {layers[k]:.6g}")
        for k in sorted(set(layers) - shown):
            print(f"  {k:36s} {layers[k]:.6g}")
        plain = [r["end_to_end"]["ops_per_s"] for r in recs
                 if r["workload"] == w and r["trace"] == 0 and r["seconds"] == t["seconds"]]
        if plain:
            base = statistics.median(plain)
            traced_rate = t["end_to_end"]["ops_per_s"]
            print(f"  tracing overhead: ops_per_s {traced_rate:.4g} traced vs {base:.4g} "
                  f"untraced (median of {len(plain)}): {100 * (1 - traced_rate / base):+.1f}%")
        else:
            print("  tracing overhead: no untraced run of the same length")


if __name__ == "__main__":
    main()
