#!/usr/bin/env python3
"""Record and compare benchmark records.

A record is a JSON-lines file, one line per run:
    {"workload": ..., "seed": ..., "trace": 0|1, "result": <run.py's last line>}

    python3 perfbench/diff.py record --workload W --seeds 1-10 [--trace] >> rec.jsonl
    python3 perfbench/diff.py compare base.jsonl new.jsonl

`compare` goes workload by workload: end-to-end metrics from untraced
runs, then per-layer metrics from traced runs. Each line gives both
medians, the ratio new/base with its base value, and each side's spread
(interquartile range over median). An end-to-end metric is "unresolved"
when either spread exceeds its bound in BENCHMARK.json, unless every new
run beats every base run; otherwise it is "regressed" when the new
median is worse by more than the bound. Per-layer metrics have no bound;
they are "unresolved" when a spread exceeds the largest end-to-end bound,
or rests on one run, and are left out when a workload does not exercise
them (0 on both sides).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], int(r["trace"])), []).append(r["result"])
    return runs


def spread(xs):
    """Interquartile range over median; None for a single run."""
    if len(xs) < 2:
        return None
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / abs(med) if med else 0.0


def compare(base, new, spec):
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    widest = max(m["bound"] for m in spec["end_to_end"])
    for wl in sorted({w for w, _ in base} | {w for w, _ in new}):
        for trace, title in ((0, "end to end"), (1, "per layer")):
            a, b = base.get((wl, trace), []), new.get((wl, trace), [])
            if not a or not b:
                print(f"\n{wl} / {title}: missing in {'base' if not a else 'new'} record")
                continue
            print(f"\n{wl} / {title}: {len(a)} base runs, {len(b)} new runs")
            for name in a[0]["metrics"]:
                xa = [r["metrics"][name]["value"] for r in a if name in r["metrics"]]
                xb = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
                if not xa or not xb or not any(xa + xb):
                    continue  # absent, or a layer this workload does not exercise
                unit = a[0]["metrics"][name]["unit"]
                ma, mb = statistics.median(xa), statistics.median(xb)
                sa, sb = spread(xa), spread(xb)
                widest_seen = max(float("inf") if s is None else s for s in (sa, sb))
                ratio = f"{mb / ma:.3f}x of base {ma:.4g} {unit}" if ma else f"base 0 {unit}"
                lower = better.get(name, "lower") == "lower"
                worse = (mb - ma) / abs(ma) * (1 if lower else -1) if ma else 0.0
                if trace == 0 and name in e2e:
                    bound = e2e[name]["bound"]
                    all_better = (max(xb) < min(xa)) if lower else (min(xb) > max(xa))
                    if widest_seen > bound and not all_better:
                        verdict = "unresolved"
                    elif worse > bound:
                        verdict = "regressed"
                    else:
                        verdict = "within bound" if worse >= 0 else "better"
                    verdict += f" (bound {bound})"
                else:
                    verdict = "unresolved" if widest_seen > widest else ""
                spreads = "/".join("one run" if s is None else f"{s:.3f}" for s in (sa, sb))
                print(f"  {name:36s} {mb:12.4g} {unit:8s} {ratio}; spread {spreads} {verdict}")
    failed = [(wl, t) for (wl, t), rs in new.items() for r in rs if not r["correct"] or r["failed"]]
    if failed:
        print(f"\nnew record has failed runs: {sorted(set(failed))}")


def seeds(s):
    lo, _, hi = s.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", type=seeds, required=True)
    r.add_argument("--trace", action="store_true")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.cmd == "compare":
        compare(load(args.base), load(args.new), spec)
        return
    for s in args.seeds:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(spec["run_seconds"]),
             "--trace", "1" if args.trace else "0"],
            cwd=root, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"run failed: workload {args.workload} seed {s}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        print(json.dumps({"workload": args.workload, "seed": s, "trace": int(args.trace),
                          "result": result}), flush=True)


if __name__ == "__main__":
    main()
