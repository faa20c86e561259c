"""Self-tests of the runner: python3 -m unittest perfbench/test_run.py"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


class RunnerTest(unittest.TestCase):
    def test_crash_line_is_bare_json_with_every_operation_failed(self):
        line = run.crashed_line('killed at "C:\\tmp"')
        r = json.loads(line)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertFalse(r["correct"])
        self.assertEqual(r["attempted"], r["failed"])

    def test_without_engine_sources_exits_nonzero_and_prints_no_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(HERE, "run.py"), tmp)
            proc = subprocess.run(
                [sys.executable, os.path.join(tmp, "run.py"), "--workload",
                 "stream-crawl", "--seed", "1", "--seconds", "1", "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=60)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout, b"")


if __name__ == "__main__":
    unittest.main()
