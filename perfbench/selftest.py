"""The benchmark's own tests: the summary helpers (test_stats.py) and the
generator's determinism and decode round trip (SelfTest.scala).

    python3 perfbench/selftest.py
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    suite = unittest.defaultTestLoader.discover(build.BENCH_DIR, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    r = subprocess.run(["java", "-Xmx1g", "-Djava.awt.headless=true", "-cp", build.build(),
                        "perfbench.SelfTest"])
    sys.exit(0 if ok and r.returncode == 0 else 1)


if __name__ == "__main__":
    main()
