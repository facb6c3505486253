"""Failure accounting end to end: the JVM side's operation wrapper turns a
throwing operation into a failed record with no timing sample, and the
runner's accounting counts it. Builds the JVM side first if needed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import build  # noqa: E402
import metrics as M  # noqa: E402


class InjectedFailure(unittest.TestCase):
    def test_throwing_operation_is_counted_not_timed(self):
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build_dir, exist_ok=True)
        classes = build.build(build_dir)
        cp = f"{classes}:{os.path.join(build.spark_jars(), '*')}"
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfCheck"], check=True,
                             capture_output=True, text=True).stdout
        ok, failed = json.loads(out.strip().splitlines()[-1])
        self.assertTrue(ok["ok"])
        self.assertEqual(ok["lat_s"], 0.5)
        self.assertFalse(failed["ok"])
        self.assertNotIn("lat_s", failed)
        self.assertIn("injected failure", failed["error"])
        acc = M.account([ok, failed])
        self.assertEqual((acc["attempted"], acc["failed"]), (2, 1))
        self.assertEqual(acc["failed_names"], ["throws"])
        self.assertEqual(acc["samples"], [0.5])


if __name__ == "__main__":
    unittest.main()
