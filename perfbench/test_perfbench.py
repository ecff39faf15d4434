"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The JVM self-test checks that the generator is seeded (same seed, identical
inputs; another seed, other inputs) and that the output checks pass on
graft's real output and fail on a wrong expected value.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class PerfbenchTest(unittest.TestCase):
    def setUp(self):
        os.chdir(ROOT)

    def test_jvm_selftest(self):
        classes = build.build()
        work = os.path.abspath(os.path.join(build.BUILD, "selftest"))
        shutil.rmtree(work, ignore_errors=True)
        try:
            code, out = run.jvm(classes, work, ["selftest"], 170)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(out)
        self.assertEqual(code, 0, out)
        self.assertIn("selftest: all passed", out)
        self.assertNotIn("FAIL", out)

    def test_rejects_unknown_workload(self):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "nope", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")

    def test_fails_without_the_program_sources(self):
        bare = os.path.abspath(os.path.join(build.BUILD, "bare-checkout"))
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy("BENCHMARK.json", bare)
            shutil.copytree("perfbench", os.path.join(bare, "perfbench"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                               timeout=180)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
