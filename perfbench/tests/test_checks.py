"""The benchmark's own test: its output checks must catch a perturbed output.

    python3 -m unittest discover -s perfbench/tests

Runs `run.py --selftest`, which (in one JVM) changes one doc vector value,
drops one doc vector row, swaps a suite query's output row for a duplicate
and gives a later pass another digest, and expects every check to fail
exactly where it should, while the unperturbed outputs still match their
pinned digests and the grouped and regroup routes still agree.
"""
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


class OutputChecks(unittest.TestCase):
    def test_perturbed_outputs_are_caught(self):
        p = subprocess.run([sys.executable, RUN, "--selftest"], capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)
        self.assertNotIn("FAIL", p.stdout)


if __name__ == "__main__":
    unittest.main()
