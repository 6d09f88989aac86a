"""Runs the JVM-side checks of the benchmark (perfbench.SelfTest): seeded
generation is deterministic, and a corrupted answer (a dropped row, a
missing planted pair) or an exception is counted as a failed operation.

    python3 -m unittest discover -s perfbench/tests

Builds the program from source first, as run.py does (about a minute).
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class JvmSelfTest(unittest.TestCase):
    def test_self_test(self):
        classes = build.build(ROOT)
        work = tempfile.mkdtemp(prefix="selftest-", dir=build.out_dir(ROOT))
        try:
            res = subprocess.run(
                build.java_command(classes, work, heap="2g") + ["perfbench.SelfTest", work],
                cwd=work, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        lines = [l for l in res.stdout.splitlines() if l.startswith(("ok ", "FAIL "))]
        self.assertEqual([l for l in lines if l.startswith("FAIL")], [])
        self.assertEqual(len(lines), 7, res.stdout)
        self.assertEqual(res.returncode, 0)


if __name__ == "__main__":
    unittest.main()
