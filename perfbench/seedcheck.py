#!/usr/bin/env python3
"""Seed hygiene check.

    python3 perfbench/seedcheck.py [--seeds 1 2]

For each workload, generates the inputs of two seeds and checks that

* every day or round ingests the same rows and the same logical bytes
  under both seeds, and the op schedule has the same shape;
* the batch contents differ (every batch file differs between the seeds);
* the program receives only the generated inputs: the JVM command line
  carries no seed, and neither does the manifest it reads.

If run records of both seeds exist in `.bench_work/results/` with the same
number of rounds, it also checks that they attempted the same ops, kind by
kind, and ingested the same rows and bytes. Exits 1 on any failure.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def shape(man):
    """Everything about a manifest that must not depend on the seed."""
    if man["workload"] == "etl_load":
        units = [(d["orders_rows"], d["events_rows"], d["bytes"]) for d in man["days"]]
        return units, [len(o) for o in man["order"]]
    return [(r["rows"], r["bytes"], len(r["terms"])) for r in man["rounds"]], []


def check_inputs(workload, seeds, problems):
    mans, files, cmds = [], [], []
    for s in seeds:
        run_dir = os.path.join(run.WORK, "seedcheck", f"{workload}-{s}")
        shutil.rmtree(run_dir, ignore_errors=True)
        with open(gen.make(run.WORK, run_dir, workload, s)) as f:
            mans.append(json.load(f))
        in_dir = os.path.join(run_dir, "in")
        files.append({os.path.relpath(p, in_dir): digest(p)
                      for p in glob.glob(os.path.join(in_dir, "**", "*.parquet"), recursive=True)})
        if "seed" in mans[-1]:
            problems.append(f"{workload}: the manifest the program reads names the seed")
        cmds.append([x.replace(run_dir, "RUN") for x in
                     run.jvm_command("CP", run_dir, workload, 10, 0, 4)])
    if cmds[0] != cmds[1] or "--seed" in cmds[0]:
        problems.append(f"{workload}: the JVM command line depends on the seed")
    if shape(mans[0]) != shape(mans[1]):
        problems.append(f"{workload}: rows, bytes or schedule differ between seeds")
    if files[0].keys() != files[1].keys():
        problems.append(f"{workload}: the seeds produce different input files")
    same = [f for f in files[0] if files[0][f] == files[1].get(f)]
    if same:
        problems.append(f"{workload}: identical batch files under both seeds: {same[:5]}")
    units = len(mans[0]["days"] if workload == "etl_load" else mans[0]["rounds"])
    print(f"{workload}: {units} units, {len(files[0])} batch files; "
          f"rows/bytes per unit {'equal' if shape(mans[0]) == shape(mans[1]) else 'DIFFER'}; "
          f"{len(files[0]) - len(same)} files differ")


def check_runs(workload, seeds, problems):
    latest = {}
    for f in glob.glob(os.path.join(run.WORK, "results", f"{workload}-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["seed"] in seeds and r["trace"] == 0:
            if r["seed"] not in latest or r["time"] > latest[r["seed"]]["time"]:
                latest[r["seed"]] = r
    if len(latest) < 2:
        print(f"{workload}: no run records of both seeds; op counts not compared")
        return
    a, b = (latest[s] for s in seeds)
    if a["rounds"] != b["rounds"]:
        print(f"{workload}: runs did {a['rounds']} and {b['rounds']} rounds; op counts not compared")
        return
    ka = collections.Counter(o[0] for o in a["ops"])
    kb = collections.Counter(o[0] for o in b["ops"])
    if ka != kb:
        problems.append(f"{workload}: op counts differ: {dict(ka)} vs {dict(kb)}")
    if a["ingested"] != b["ingested"]:
        problems.append(f"{workload}: ingested {a['ingested']} vs {b['ingested']}")
    print(f"{workload}: runs of both seeds attempted {sum(ka.values())} and "
          f"{sum(kb.values())} ops; ingested {a['ingested']} and {b['ingested']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs=2, default=[1, 2])
    a = ap.parse_args()
    problems = []
    for w in run.WORKLOADS:
        check_inputs(w, a.seeds, problems)
        check_runs(w, a.seeds, problems)
    shutil.rmtree(os.path.join(run.WORK, "seedcheck"), ignore_errors=True)
    for p in problems:
        print("FAIL " + p)
    print("seed hygiene: " + ("ok" if not problems else f"{len(problems)} problems"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
