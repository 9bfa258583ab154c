"""Self-test of the benchmark: a short smoke run of every workload, plus the
evidence that its checks bite.

    python3 perfbench/test_bench.py        # from the root of a checkout

For each workload it runs run.py with --smoke (small inputs, one set-up, a
3 s window) untraced and traced, and requires a correct result whose last
stdout line and result file both load as JSON and name exactly the metrics
BENCHMARK.json declares. A --corrupt run (one wrong expected ledger entry
per wallet; one wrong oracle result per query) must come back incorrect with
failed > 0. Finally the runner must refuse, with a non-zero exit and no
result line, to run in a directory holding only BENCHMARK.json and the
benchmark's own files. Takes about five minutes on a 4-core host.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path.cwd()
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RESULTS = ROOT / "perfbench" / "results"


def run(workload, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "3", "--smoke", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


class BenchmarkSelfTest(unittest.TestCase):

    def result(self, workload, *extra):
        p = run(workload, *extra)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        trace = "1" if "--trace" in extra and extra[extra.index("--trace") + 1] == "1" else "0"
        with open(RESULTS / f"{workload}-seed7-trace{trace}.json") as f:
            saved = json.load(f)
        self.assertEqual(saved["metrics"], last["metrics"])
        return last, saved

    def test_smoke_runs_are_correct_and_complete(self):
        for w in (x["name"] for x in BENCH["workloads"]):
            for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    last, saved = self.result(w, "--trace", trace)
                    self.assertTrue(last["correct"], saved["failures"])
                    self.assertEqual(last["failed"], 0, saved["failures"])
                    self.assertGreaterEqual(last["attempted"], 1)
                    self.assertEqual(set(last["metrics"]), {m["name"] for m in BENCH[kind]})

    def test_corrupted_expectation_is_caught(self):
        for w in (x["name"] for x in BENCH["workloads"]):
            with self.subTest(workload=w):
                last, saved = self.result(w, "--corrupt")
                self.assertFalse(last["correct"])
                self.assertGreater(last["failed"], 0)

    def test_refuses_to_run_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns(".build", ".state", "results", "target"))
            p = run(BENCH["workloads"][0]["name"], cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
