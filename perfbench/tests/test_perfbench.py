"""The benchmark's own tests: unit checks (tail rule, self time, upload to
batch mapping), a smoke-size run of every workload with tracing off and on,
and the refusal to run without the engine's sources.

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORK = os.path.join(BENCH, ".work")


def run(workload, trace=0, seconds=5, cwd=REPO, script=None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=300)


class Units(unittest.TestCase):
    def test_selftest(self):
        cp = build.build(with_tests=True)
        os.makedirs(WORK, exist_ok=True)
        r = subprocess.run([build.java(), "-cp", cp, "perfbench.SelfTest", WORK],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(result["metrics"]), sorted(names))
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        if not trace:
            for name in names:
                self.assertGreater(result["metrics"][name]["value"], 0, name)
        return result

    def test_arrivals(self):
        self.check("arrivals", 0)

    def test_backfill(self):
        self.check("backfill", 0)

    def test_backfill_traced(self):
        m = self.check("backfill", 1)["metrics"]
        self.assertGreater(m["jointkpis.triggers"]["value"], 0)
        self.assertGreater(m["completeness.triggers"]["value"], 0)
        self.assertGreater(m["store.commits"]["value"], 0)
        self.assertGreater(m["spark.tasks"]["value"], 0)
        self.assertGreater(m["self.validate_s"]["value"], 0)

    def test_arrivals_traced(self):
        m = self.check("arrivals", 1)["metrics"]
        self.assertGreater(m["gen.uploads"]["value"], 0)
        self.assertGreater(m["validate.calls"]["value"], 0)


class Contract(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        """A checkout holding only BENCHMARK.json and the benchmark's own
        files has no engine to build: no result, non-zero exit."""
        lone = os.path.join(WORK, "lone")
        shutil.rmtree(lone, ignore_errors=True)
        os.makedirs(lone)
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), lone)
        shutil.copytree(BENCH, os.path.join(lone, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", ".out", "__pycache__"))
        try:
            r = run("arrivals", cwd=lone, script=os.path.join(lone, "perfbench", "run.py"))
            self.assertNotEqual(r.returncode, 0)
            last = (r.stdout.strip().splitlines() or [""])[-1]
            self.assertFalse(last.startswith("{"), last)
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
