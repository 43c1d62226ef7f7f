#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the bench JVM
(perfbench/build.sbt) on first use, makes the workload's inputs from the
seed (gen.py), runs the bench JVM (src/main/scala/perfbench), checks its
outputs in DuckDB (check.py), and prints one JSON object as the last
line of stdout, with the metrics BENCHMARK.json lists for the mode.
Workloads, metrics and their layers are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

CORES = len(os.sched_getaffinity(0))  # local[nproc]
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Input sizes. `scale` is relative to TPC-H scale factor 1 (1.5M orders).
MIGRATE_SCALE = 0.003
CURATE = dict(scale=0.01, docs=800, vecs=600)
# Live ladder: offered change rates (changes/s) and the share of the
# run's seconds each rung lasts; files are released every LIVE_TICK_S.
LIVE_RUNGS = [("low", 40, 0.2), ("nominal", 240, 0.6), ("high", 2400, 0.2)]
LIVE_TICK_S = 0.025
LIVE_LINEITEM_SHARE = 0.6


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    d = d if os.path.isabs(d) else os.path.join(ROOT, d)
    os.makedirs(d, exist_ok=True)
    return d


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(base) for f in fs
            if "target" not in r.split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(bdir):
    """Build the engine and the bench JVM unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found; "
                         "run from the root of a full checkout")
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = f.read().split("\n", 1)
        if cached[0] == stamp:
            return cached[1].strip()
    log("building engine and bench JVM ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def make_inputs(workload, seed, seconds, trace, data):
    """Write the workload's inputs, and the models checks compare with, under `data`."""
    src = os.path.join(data, "src")
    if workload == "curate_mix":
        gen.write_tables(gen.tables(seed, CURATE["scale"], CURATE["docs"], CURATE["vecs"]), src)
        return
    tbls = gen.tables(seed, MIGRATE_SCALE)
    gen.write_tables(tbls, src)
    feed = gen.FeedGen(seed, tbls)
    # a backlog of a third of the migrated orders+lineitem rows, the
    # reference's 2.56M replicated / 7.69M migrated
    n = (tbls["orders"].num_rows + tbls["lineitem"].num_rows) // 3
    li_share = tbls["lineitem"].num_rows / (tbls["lineitem"].num_rows + tbls["orders"].num_rows)
    d = os.path.join(data, "backlog")
    os.makedirs(d)
    for i in range(8):
        with open(os.path.join(d, f"b{i:03d}.jsonl"), "w") as f:
            f.write(feed.file_lines(n // 8, li_share))
    feed.write_models(os.path.join(data, "model_catchup"))
    if not trace:
        return
    # the live half runs in traced runs only
    d = os.path.join(data, "live", "pending")
    os.makedirs(d)
    plan, t = [], 0.0

    def emit(phase, due, rate, n):
        name = f"f{len(plan):05d}.jsonl"
        with open(os.path.join(d, name), "w") as f:
            f.write(feed.file_lines(n, LIVE_LINEITEM_SHARE))
        plan.append(f"{name}\t{due:.3f}\t{phase}\t{rate}\t{n}")
    for phase, rate, share in LIVE_RUNGS:
        per_file = max(1, round(rate * LIVE_TICK_S))
        for _ in range(round(seconds * share / LIVE_TICK_S)):
            emit(phase, t, rate, per_file)
            t += LIVE_TICK_S
    with open(os.path.join(data, "live", "plan.tsv"), "w") as f:
        f.write("\n".join(plan) + "\n")
    feed.write_models(os.path.join(data, "model"))


def run_checks(workload, trace, data, out, info):
    if workload == "curate_mix":
        return check.curated(os.path.join(data, "src"), out)
    fails = (check.migrated(os.path.join(data, "src"), info["migrated_dir"]) +
             check.state(os.path.join(data, "model_catchup"), os.path.join(out, "state_catchup"), gen.PK))
    if trace:
        fails += check.state(os.path.join(data, "model"), os.path.join(out, "state"), gen.PK)
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["migrate_catchup", "curate_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind: subprocess.run kills and reaps its child, and the
    # run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bdir = build_dir()
    cp = classpath(bdir)
    started = time.time()  # the time limit of a run excludes the first build
    run = os.path.join(bdir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data, out = os.path.join(run, "data"), os.path.join(run, "out")
    try:
        t0 = time.time()
        make_inputs(args.workload, args.seed, args.seconds, args.trace, data)
        gen_s = time.time() - t0
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = [java, f"-Xmx{HEAP}", *opens, "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--data", data, "--out", out,
               "--cores", str(CORES)]
        launched = time.time()
        with open(os.path.join(run, "jvm.log"), "w") as jlog:
            p = subprocess.run(cmd, cwd=run, stdout=jlog, stderr=subprocess.STDOUT,
                               timeout=max(30, RUN_TIMEOUT_S - (launched - started)))
        res_file = os.path.join(out, "result.json")
        if p.returncode != 0 or not os.path.exists(res_file):
            with open(os.path.join(run, "jvm.log")) as f:
                lines = f.read().splitlines()
            log("\n".join([x for x in lines if "Exception" in x or "Error" in x][:20] + lines[-30:]))
            raise SystemExit(f"bench JVM failed (exit {p.returncode})")
        with open(res_file) as f:
            res = json.load(f)
        fails = run_checks(args.workload, args.trace, data, out, res["info"])
        if args.trace:
            os.makedirs(os.path.join(bdir, "spans"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(bdir, "spans", f"{args.workload}-{args.seed}.json"))
        for e in res["errors"] + fails:
            log("FAILED:", e)
        attempted = res["attempted"] + 1
        failed = res["failed"] + (1 if fails else 0)
        m = dict(res["metrics"])
        m["setup_s"] = gen_s + (res["ready_epoch_ms"] / 1e3 - launched)
        m["ops_ok_ratio"] = 1.0 - failed / attempted
        log("info:", json.dumps(res["info"]))
        # every metric BENCHMARK.json names for this mode; 0 where this
        # workload does not exercise the layer
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = json.load(f)["per_layer" if args.trace else "end_to_end"]
        metrics = {x["name"]: {"value": float(m.get(x["name"]) or 0.0), "unit": x["unit"]}
                   for x in names}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run, ignore_errors=True)


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

if __name__ == "__main__":
    main()
