"""The output digest ignores row order but not values. Builds the harness
(as run.py does) and runs its digest self-check in a local Spark session.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


class DigestOrder(unittest.TestCase):
    def test_order_insensitive_and_value_sensitive(self):
        root = os.path.abspath(os.path.join(HERE, "..", ".."))
        build_dir = os.path.join(root, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        classpath = run.build(root, build_dir)
        cmd = run.java_cmd(classpath, "1g") + ["perfbench.DigestSelfCheck"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=build_dir)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        d = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(d["base"].startswith("5000:"))
        self.assertEqual(d["base"], d["shuffled"])
        self.assertNotEqual(d["base"], d["changed"])


if __name__ == "__main__":
    unittest.main()
