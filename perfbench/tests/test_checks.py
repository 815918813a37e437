"""Tests of the benchmark's output checks: the JVM digest and operation
record (through the SelfTest main, which needs a build and a short local
Spark session) and the oracle's bit-strict frame compare.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class JvmChecks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes = build.build()
        os.makedirs(build.BUILD_DIR, exist_ok=True)
        cls.work = tempfile.mkdtemp(dir=build.BUILD_DIR, prefix="selftest-")
        out = os.path.join(cls.work, "selftest.json")
        cmd = ([build.java(), "-Xmx1g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={cls.work}",
                "-Dlog4j2.configurationFile="
                + os.path.join(HERE, "log4j2.properties")]
               + [x for p in run.ADD_OPENS
                  for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", classes + os.pathsep
                  + os.path.join(build.spark_jars(), "*"),
                  "graft.perfbench.SelfTest", cls.work, out])
        subprocess.run(cmd, check=True, timeout=170, env=run.clean_env())
        with open(out) as f:
            cls.res = json.load(f)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_digest_ignores_row_order(self):
        d = self.res["digests"]
        self.assertEqual(d["base"], d["reordered"])

    def test_perturbed_output_fails_digest_check(self):
        d = self.res["digests"]
        for k in ("signed_zero", "one_cell", "extra_row"):
            self.assertNotEqual(d[k], d["base"], k)
            self.assertTrue(stats.op_failed(
                {"kind": "derive", "digest": d[k], "error": ""}, d["base"]), k)

    def test_exception_is_recorded_and_counted(self):
        threw, passed = self.res["threw"], self.res["passed"]
        self.assertIn("injected", threw["error"])
        self.assertEqual(passed["error"], "")
        self.assertEqual(stats.account([threw, dict(passed, digest="1:1")],
                                       "1:1", True), (2, 1))


class OracleCompare(unittest.TestCase):
    def test_bit_strict_floats(self):
        import pandas as pd
        neg = oracle.norm(pd.DataFrame({"k": [1, 2], "v": [-0.0, 1.5]}))
        pos = oracle.norm(pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5]}))
        self.assertFalse(oracle.frames_equal(neg, pos))
        self.assertTrue(oracle.frames_equal(pos, pos.copy()))

    def test_multiset_equality_ignores_row_order(self):
        import pandas as pd
        a = oracle.norm(pd.DataFrame({"k": [1, 1, 2], "v": [0.0, -0.0, 3.0]}))
        b = oracle.norm(pd.DataFrame({"k": [2, 1, 1], "v": [3.0, -0.0, 0.0]}))
        self.assertTrue(oracle.frames_equal(a, b))

    def test_perturbed_cell_fails(self):
        import pandas as pd
        a = oracle.norm(pd.DataFrame({"k": [1, 2], "s": ["x", "y"]}))
        b = oracle.norm(pd.DataFrame({"k": [1, 2], "s": ["x", "z"]}))
        self.assertFalse(oracle.frames_equal(a, b))


if __name__ == "__main__":
    unittest.main()
