"""Self-test of the benchmark: python3 -m unittest discover -s perfbench/tests

Runs each workload at tiny scale through perfbench/run.py and checks that
its gates pass, that a corrupted expected state is rejected, and that the
same seed generates byte-identical inputs. Takes a few minutes: every run
starts a JVM and a Spark session.
"""
import functools
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")
ROOT = os.path.dirname(os.path.dirname(RUN))
WORKLOADS = ("commit_cycle", "llm_dedup")


@functools.lru_cache(maxsize=None)
def run(workload, seed, *extra):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", "0", "--tiny", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       timeout=900)
    lines = p.stdout.decode().splitlines()
    return p.returncode, json.loads(lines[-2])["run_info"], json.loads(lines[-1])


class TinyRuns(unittest.TestCase):
    def test_each_workload_passes_its_gates(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, info, res = run(w, 7)
                self.assertEqual(code, 0, info["failures"])
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)

    def test_corrupted_expected_state_is_rejected(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, info, res = run(w, 7, "--corrupt")
                self.assertNotEqual(code, 0)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)
                self.assertTrue(info["failures"])

    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = run(w, 7)[1]["input_sha256"]
                b = run(w, 7, "--corrupt")[1]["input_sha256"]
                c = run(w, 8)[1]["input_sha256"]
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    @unittest.expectedFailure
    def test_no_false_pairs(self):
        # Dedup's MinHash family is correlated across hash functions, so
        # documents sharing one low-code token get est ~1 (README, "Known
        # engine defect"); this passes once the hash family is fixed
        self.assertEqual(run("llm_dedup", 7)[1]["false_pair_share_max"], 0)


if __name__ == "__main__":
    unittest.main()
