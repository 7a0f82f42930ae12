"""Runs the Scala self-test of the output hash's canonical form.

Builds graft and the harness first if needed (as run.py does), so run it
from the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


@unittest.skipUnless(os.path.isdir("src/main/scala") and shutil.which("java"),
                     "needs a graft checkout as the working directory and a JVM")
class OutputHashTest(unittest.TestCase):
    def test_canonical_form(self):
        jars = run.spark_jars()
        bdir = run.BUILD_DIR
        classes = run.ensure_build(bdir, jars)
        cp = os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "graft"),
                              os.path.join(jars, "*")])
        tmp = os.path.abspath(os.path.join(bdir, "selftest-tmp"))
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"]
        for p in run.JVM_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        r = subprocess.run(cmd + ["-cp", cp, "graftbench.HashSelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                           timeout=300)
        shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
