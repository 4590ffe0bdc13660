#!/usr/bin/env python3
"""Runs every workload of BENCHMARK.json over several seeds and prints one
table: for each workload and end-to-end metric, the unit, the median over
runs, the highest percentile with at least ten samples beyond it, and n.
It also gives wall_s pooled over every job of every run, and the failed
fraction. With --trace it also runs each workload traced and prints the
median of each per-layer metric.

    python3 kgbench/report.py [--seeds 1,2,3] [--seconds 10] [--trace]

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import high_percentile  # noqa: E402


def one_run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join("kgbench", "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        return None, None
    path = os.path.join(build.BUILD_DIR, "results", "%s-s%d-t%d.json" % (workload, seed, trace))
    with open(path) as f:
        record = json.load(f)
    return json.loads(r.stdout.strip().splitlines()[-1]), record


def row(name, unit, xs):
    hp = high_percentile(xs)
    return "  %-34s %-6s median=%-14.6g %-22s n=%d" % (
        name, unit, statistics.median(xs), "-" if hp is None else "p%d=%.6g" % hp, len(xs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",")]
    ok = True
    for w in bench["workloads"]:
        name = w["name"]
        values = {m["name"]: [] for m in bench["end_to_end"]}
        jobs, attempted, failed, broken = [], 0, 0, 0
        for seed in seeds:
            last, record = one_run(name, seed, seconds, 0)
            if last is None:
                broken += 1
                continue
            attempted += last["attempted"]
            failed += last["failed"]
            jobs += record["samples"]["wall_s"]
            for k, m in last["metrics"].items():
                values[k].append(m["value"])
        print("%s (%d runs of %gs, %d failed to run)" % (name, len(seeds), seconds, broken))
        for m in bench["end_to_end"]:
            if values[m["name"]]:
                print(row(m["name"], m["unit"], values[m["name"]]))
        if jobs:
            print(row("wall_s (per job, pooled)", "s", jobs))
        print("  %-34s %d/%d" % ("failed_frac", failed, attempted))
        ok = ok and broken == 0 and failed == 0 and attempted > 0
        if a.trace:
            last, record = one_run(name, seeds[0], seconds, 1)
            if last is None:
                print("  traced run failed to run")
                ok = False
                continue
            ok = ok and last["correct"]
            for m in bench["per_layer"]:
                print("  %-34s %-6s %.6g" % (m["name"], m["unit"], last["metrics"][m["name"]]["value"]))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
