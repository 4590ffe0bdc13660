"""Self-tests of the benchmark's own machinery (not of the engine).

    python3 kgbench/test_kgbench.py        # from the repository root

They build the benchmark if needed and start the benchmark JVM in its
self-test mode: the output digest is order-independent, the same seed
makes byte-identical inputs and another seed different ones, and the
metric names and units the benchmark prints are those of BENCHMARK.json.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def jvm(mode):
    """Runs the benchmark main in `mode`; returns its JSON record."""
    build.ensure_built()
    out = os.path.join(build.BUILD_DIR, "selftest-%s.json" % mode)
    cmd = [build.java()] + build.java_opens() + [
        "-Xmx" + run.HEAP, "-XX:-UsePerfData", "-Dlog4j2.configurationFile=" + os.path.join("kgbench", "log4j2.properties"),
        "-cp", build.classpath(), "kgbench.Main", "--mode", mode, "--root", build.BUILD_DIR,
        "--specs", os.path.join("src", "main", "resources", "specs"), "--result", out]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


class SelfTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open("BENCHMARK.json") as f:
            cls.bench = json.load(f)

    def test_declared_metrics_match_benchmark_json(self):
        declared = jvm("list-metrics")
        for kind in ("end_to_end", "per_layer"):
            want = [(m["name"], m["unit"]) for m in self.bench[kind]]
            got = [(m["name"], m["unit"]) for m in declared[kind]]
            self.assertEqual(sorted(got), sorted(want), kind)

    def test_digest_and_seeded_inputs(self):
        checks = jvm("selftest")
        self.assertIn("digest.order_independent", checks)
        for w in self.bench["workloads"]:
            self.assertIn(w["name"] + ".same_seed_identical", checks)
            self.assertIn(w["name"] + ".other_seed_differs", checks)
        self.assertEqual([k for k, ok in sorted(checks.items()) if not ok], [])

    def test_printed_metrics_match_benchmark_json(self):
        w = self.bench["workloads"][0]["name"]
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run([sys.executable, os.path.join("kgbench", "run.py"), "--workload", w,
                                "--seed", "5", "--seconds", "1", "--trace", str(trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            self.assertEqual(r.returncode, 0)
            last = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(last["correct"])
            self.assertEqual(sorted(last["metrics"]), sorted(m["name"] for m in self.bench[kind]))
            for m in self.bench[kind]:
                self.assertEqual(last["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
