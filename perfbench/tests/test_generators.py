"""Determinism of the benchmark's input generators.

    python3 -m unittest discover -s perfbench/tests -p test_generators.py -v

These tests build the benchmark (compiling graft's sources on the first
run) and start a JVM per digest, so they take a minute or more.
"""

import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.spark_jars()
        cls.classes = run.build(cls.jars)

    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory(dir=run.build_dir()) as work:
            cp = os.pathsep.join([self.classes] + self.jars)
            out = subprocess.run(
                ["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p
                            for p in run.ADD_OPENS] +
                ["-Xmx1g", "-Djava.io.tmpdir=" + work, "-cp", cp, "graftbench.Main",
                 "--workload", workload, "--seed", str(seed), "--digest", "1",
                 "--work", work],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, check=True)
            return out.stdout.decode().split()[-1]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("curate_stream", "ann_index", "aqp_mixed"):
            a, b, c = self.digest(w, 7), self.digest(w, 7), self.digest(w, 8)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)


if __name__ == "__main__":
    unittest.main()
