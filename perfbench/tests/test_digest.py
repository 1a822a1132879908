"""Runs the JVM-side digest self-check (`perfbench.DigestCheck`). Needs the
engine sources at the working directory (run from the repository root) and
a Spark distribution; skipped otherwise."""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import build  # noqa: E402
import run  # noqa: E402


@unittest.skipUnless(os.path.isdir("src/main/scala/graft"), "run from the repository root")
class DigestTest(unittest.TestCase):
    def test_digest_is_order_insensitive_and_value_sensitive(self):
        classes, _ = build.build(os.getcwd())
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        with tempfile.TemporaryDirectory(dir=os.path.join(os.getcwd(), ".bench_build")) as tmp:
            r = subprocess.run(["java", "-Xmx1g"] + run.JVM_FLAGS +
                               [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.DigestCheck", tmp],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                               timeout=300)
        lines = r.stdout.strip().splitlines()
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertEqual(len(lines), 6, r.stdout)
        self.assertTrue(all(x.startswith("PASS") for x in lines), r.stdout)


if __name__ == "__main__":
    unittest.main()
