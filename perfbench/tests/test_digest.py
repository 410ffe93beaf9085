"""The rounded, order-insensitive result digest (perfbench/scala/Digest.scala),
checked by its JVM self-test. Builds the harness first.

    python3 -m unittest discover -s perfbench/tests
"""
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402


@unittest.skipUnless(shutil.which("java") and build.SPARK_JARS.is_dir(), "needs java and Spark")
class DigestSelfTest(unittest.TestCase):
    def test_digest_rules(self):
        build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(),
                            "perfbench.DigestSelfTest"], capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertEqual(r.stdout.strip(), "ok")


if __name__ == "__main__":
    unittest.main()
