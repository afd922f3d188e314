#!/usr/bin/env python3
"""Test of the benchmark's timed action: for every declared query and every
imaging and corpus op, the executed plan of the noop write keeps all output
columns (no pruning of the kind a count() allows), and a narrower select and
a count() of the same frames are flagged as not doing so. Takes a few minutes.

    python3 perfbench/test_full_evaluation.py
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class FullEvaluationTest(unittest.TestCase):
    def test_every_timed_action_keeps_all_columns(self):
        classes = build.build()
        scratch = build.BUILD / "test-spark"
        shutil.rmtree(scratch, ignore_errors=True)
        (scratch / "tmp").mkdir(parents=True)
        r = subprocess.run(
            ["java", *run.JVM_OPTS, f"-Djava.io.tmpdir={scratch / 'tmp'}",
             "-cp", f"{classes}{os.pathsep}{build.spark_jars()}", "perfbench.FullEvaluation",
             "--data", str(run.DATA), "--scratch", str(scratch), "--cores", "4"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=run.ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("full evaluation:", r.stdout)
        self.assertIn("4/4 narrowed controls flagged", r.stdout)


if __name__ == "__main__":
    unittest.main()
