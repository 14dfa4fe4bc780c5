"""Determinism of the benchmark's seeded input generators.

    python3 -m unittest discover -s perfbench/tests

Builds the benchmark if needed, then asks the JVM for the content checksum
of each workload's generated inputs: the same seed must give the same
checksum, another seed another one.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.build()
        cls.work = os.path.join(run.ROOT, ".bench_build", "tests")
        os.makedirs(cls.work, exist_ok=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def checksum(self, workload, seed):
        cmd = run.java_cmd(self.jars, self.work,
                           ["--checksum", "--workload", workload, "--seed", str(seed)])
        out = subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=300)
        return out.stdout.strip().splitlines()[-1]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                first = self.checksum(w, 1)
                self.assertEqual(first, self.checksum(w, 1))
                self.assertNotEqual(first, self.checksum(w, 2))


if __name__ == "__main__":
    unittest.main()
