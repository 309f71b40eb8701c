#!/usr/bin/env python3
"""The engine's seeded benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (sbt, `perfbench/build.sbt`) and generates the base tables; later
runs reuse both. Everything a run writes stays under `.bench_work/`.

Steps: generate the run's seeded inputs (gen.py), launch the JVM harness
(`perfbench.Main`) on `local[<cores>]`, check its outputs against DuckDB
replays (check.py), and print one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Every metric, the per-kind op breakdown and the
check results also land in `.bench_work/results/` for report.py and
compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
LIMIT_S = 170
HEAP = "2g"
WORKLOADS = ("etl_load", "index_lifecycle")
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            yield from (os.path.join(d, f) for f in fs)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile engine + harness unless the classpath file is newer than
    every source; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala: run from the root of a checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    newest = max(os.path.getmtime(f) for f in sources())
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest:
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "build.log"), "w") as log:
            tmp = os.path.join(WORK, "sbt-tmp")  # sbt's sockets and locks
            os.makedirs(tmp, exist_ok=True)
            rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                           "writeClasspath"], cwd=HERE, out=log, timeout=850)
        if rc != 0 or not os.path.exists(cp_file):
            fail(f"build failed (rc={rc}); see .bench_work/build.log")
    with open(cp_file) as f:
        return f.read().strip()


def run_proc(cmd, cwd, out, timeout, env=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def jvm_command(cp, run_dir, workload, seconds, trace, cores):
    """The harness's command line: it names the run directory, never the
    seed, so the program sees only the generated inputs."""
    return ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", cp, "perfbench.Main", "--run-dir", run_dir, "--workload", workload,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]


def pct(xs, q):
    return float(np.percentile(xs, q)) if xs else float("nan")


def ingested(res, man):
    """Rows and logical bytes of the batches the run's rounds consumed."""
    units = (man["days"] if man["workload"] == "etl_load" else man["rounds"])[:res["rounds"]]
    return {"rows": sum(u["rows"] for u in units), "bytes": sum(u["bytes"] for u in units)}


def end_to_end(res, man):
    ops = [o for o in res["ops"] if o["ok"]]
    reads = [o["s"] for o in ops if o["cls"] == "read"]
    writes = [o["s"] for o in ops if o["cls"] == "write"]
    return {
        "setup_s": res["session_s"] + res["setup_s"],
        "ops_per_s": len(ops) / res["timed_s"],
        "read_p50_s": pct(reads, 50), "read_p90_s": pct(reads, 90),
        "write_p50_s": pct(writes, 50), "write_p90_s": pct(writes, 90),
        "write_amp": res["output_bytes"] / ingested(res, man)["bytes"],
        "space_amp": res["disk_bytes"] / res["finish"]["live_bytes"],
        "retained_mb": res["retained_mb"],
    }


def run_checks(res, man, run_dir, workload):
    """Output checks; returns {name: (ok, detail)} and per-op wrong flags."""
    in_dir, dump = os.path.join(run_dir, "in"), os.path.join(run_dir, "dump")
    fin = res["finish"]
    if workload == "etl_load":
        checks = {f"report.{k}": v for k, v in
                  check.check_reports(man["base"], dump, fin["reports"]).items()}
        checks.update({f"table.{k}": v for k, v in check.check_etl(
            man, in_dir, dump, res["rounds"], fin["summary_sql"]).items()})
        # a wrong final table or report result makes the reads that served it wrong
        wrong = lambda o: o["cls"] == "read" and not (
            checks.get(f"report.{o['target']}", (True,))[0] and
            checks.get(f"table.{o['target']}", (True,))[0])
    else:
        checks = {f"index.{k}": v for k, v in check.check_index(
            in_dir, dump, res["rounds"], fin["graph"]).items()}
        checks["index.pq_codes"] = (fin["pq_law"]["ok"], fin["pq_law"]["detail"])
        if not checks["index.pq_codes"][0]:
            checks["index.pq"] = (False, checks["index.pq_codes"][1])
        wrong = lambda o: o["cls"] == "read" and not checks[f"index.{o['target']}"][0]
    return checks, wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as f:
        spec = json.load(f)
    cp = build()
    t_start = time.time()  # the time limit of a run starts after the build

    run_dir = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(gen.make(WORK, run_dir, a.workload, a.seed)) as f:
        man = json.load(f)

    cmd = jvm_command(cp, run_dir, a.workload, a.seconds, a.trace,
                      len(os.sched_getaffinity(0)))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the run directory either way
        rc = run_proc(cmd, cwd=run_dir, out=log,
                      timeout=max(10, LIMIT_S - (time.time() - t_start)),
                      env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local")))
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(res_file) as f:
        res = json.load(f)

    t_jvm = time.time()
    checks, wrong = run_checks(res, man, run_dir, a.workload)
    t_checks = time.time()
    failed = sum(1 for o in res["ops"] if not o["ok"] or wrong(o))
    attempted = len(res["ops"])
    e2e = end_to_end(res, man)
    e2e["failed_frac"] = failed / attempted
    correct = failed == 0 and all(ok for ok, _ in checks.values())

    for name, (ok, why) in sorted(checks.items()):
        print(f"check {name}: {'ok' if ok else 'FAILED ' + why}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"op {o['kind']} ({o['target']}) failed: {o['error']}")
    n_read = sum(1 for o in res["ops"] if o["ok"] and o["cls"] == "read")
    print(f"rounds {res['rounds']}, ops {attempted} ({n_read} reads, "
          f"{attempted - failed - n_read} writes), failed {failed}, "
          f"timed {res['timed_s']:.2f} s; wall: until checks {t_jvm - t_start:.1f} s, "
          f"checks {t_checks - t_jvm:.1f} s, after the loop in the JVM {res['finish_s']:.1f} s")
    for k, v in e2e.items():
        print(f"{k} = {v:.6g}")
    layers = res.get("per_layer") or {}
    for k in sorted(layers):
        print(f"layer {k} = {layers[k]:.6g}")

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "seconds": a.seconds, "time": time.time(), "correct": correct,
              "attempted": attempted, "failed": failed, "rounds": res["rounds"],
              "end_to_end": e2e, "per_layer": layers,
              "checks": {k: v[0] for k, v in checks.items()},
              "ingested": ingested(res, man),
              "ops": [[o["kind"], o["cls"], o["s"], o["ok"]] for o in res["ops"]]}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time() * 1000)}.json")
    with open(out, "w") as f:
        json.dump(record, f)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"metrics missing from this run: {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                                  for m in wanted}}))


if __name__ == "__main__":
    main()
