"""Runs the Scala listener check (ListenerCheck.scala) against a build.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402


class ListenerTolerance(unittest.TestCase):
    def test_partial_event_streams(self):
        try:
            classes = build.build()
        except build.BuildError as e:
            self.skipTest(f"no build: {e}")
        cp = os.pathsep.join([classes, os.path.join(build.jar_dir(), "*")])
        r = subprocess.run(["java", "-cp", cp, "perfbench.ListenerCheck"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("ListenerCheck: ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
