#!/usr/bin/env python3
"""KG-pipeline benchmark: one run of one workload.

    python3 kgbench/run.py --workload humans_cli --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source when they changed (kgbench/build.py), makes the seeded inputs,
then starts one JVM that sets up, runs the workload's batch job back to
back for --seconds and checks every job's output. The last line of
standard output is the result: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1,
as listed in BENCHMARK.json). The line before it is the environment
record. A human-readable summary goes to standard error.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "2g"
# A run may take 180 s, the first one in a checkout 900 s because it builds.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880


def git_sha():
    if not os.path.isdir(".git"):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def high_percentile(xs):
    """The highest percentile with at least ten samples beyond it, or None."""
    n = len(xs)
    if n < 11:
        return None
    p = 100 * (n - 10) // n
    return p, sorted(xs)[max(0, -(-p * n // 100) - 1)]


def summary(res):
    lines = ["kgbench %s seed=%s trace=%d: correct=%s attempted=%d failed=%d" % (
        res["workload"], res["seed"], res["trace"], res["correct"], res["attempted"], res["failed"])]
    for p in res["problems"]:
        lines.append("  problem: " + p)
    for name, m in res["metrics"].items():
        lines.append("  %-34s %14.6g %s" % (name, m["value"], m["unit"]))
    for name, xs in res["samples"].items():
        if xs:
            hp = high_percentile(xs)
            lines.append("  samples %-18s n=%-3d median=%.4f%s" % (
                name, len(xs), statistics.median(xs),
                "" if hp is None else " p%d=%.4f" % hp))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()

    try:
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    except OSError as e:
        print("kgbench: cannot read BENCHMARK.json (run from the repository root): %s" % e,
              file=sys.stderr)
        return 2
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        print("kgbench: unknown workload %s" % a.workload, file=sys.stderr)
        return 2
    try:
        built = build.ensure_built()
        cp = build.classpath()
        java = build.java()
    except build.BuildError as e:
        print("kgbench: %s" % e, file=sys.stderr)
        return 2

    tmp = os.path.join(build.BUILD_DIR, "tmp")
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    result_path = os.path.join(results, tag + ".json")
    log_path = os.path.join(results, tag + ".log")
    if os.path.exists(result_path):
        os.remove(result_path)

    load_before = os.getloadavg()
    cmd = [java] + build.java_opens() + [
        "-Xmx" + HEAP, "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join("kgbench", "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.abspath(tmp),
        "-cp", cp, "kgbench.Main", "--mode", "run",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", build.BUILD_DIR,
        "--specs", os.path.join("src", "main", "resources", "specs"),
        "--result", result_path, "--launch-ms", str(int(time.time() * 1000))]
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-6000:]
        print("kgbench: benchmark JVM ended with %s; log tail:\n%s" % (rc, tail), file=sys.stderr)
        return 1

    with open(result_path) as f:
        res = json.load(f)
    expected = sorted(m["name"] for m in bench["per_layer" if a.trace else "end_to_end"])
    if sorted(res["metrics"]) != expected:
        print("kgbench: metric names %s differ from BENCHMARK.json %s"
              % (sorted(res["metrics"]), expected), file=sys.stderr)
        return 1
    res["env"] = {
        "nproc": nproc(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "jvm_flags": res["jvm"]["flags"],
        "heap_max_mb": res["jvm"]["max_heap_mb"],
        "git_sha": git_sha(),
        "source_stamp": build.current_stamp(),
    }
    with open(result_path, "w") as f:
        json.dump(res, f, indent=1)

    print(summary(res), file=sys.stderr)
    print(json.dumps({"env": res["env"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
