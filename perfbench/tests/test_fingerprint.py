import os
import random
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.abspath(os.path.join(HERE, "..", ".."))
sys.path.insert(0, os.path.join(HERE, ".."))

import build  # noqa: E402
import run  # noqa: E402


def write_parts(directory, lines, n_parts):
    for i in range(n_parts):
        with open(os.path.join(directory, f"part-{i:05d}.json"), "w") as f:
            f.writelines(x + "\n" for x in lines[i::n_parts])


class LineFingerprintTest(unittest.TestCase):
    lines = [f'{{"meta":{{"race_id":{i}}},"v":{i * 0.5}}}' for i in range(200)]

    def test_independent_of_order_and_part_files(self):
        base = run.fingerprint_lines(self.lines)
        shuffled = list(self.lines)
        random.Random(1).shuffle(shuffled)
        self.assertEqual(base, run.fingerprint_lines(shuffled))
        for parts in (1, 3, 8):
            with tempfile.TemporaryDirectory() as d:
                write_parts(d, shuffled, parts)
                self.assertEqual(base, run.fingerprint_lines(run.part_lines(d)))

    def test_detects_changes(self):
        base = run.fingerprint_lines(self.lines)
        self.assertNotEqual(base, run.fingerprint_lines(self.lines[1:]))
        self.assertNotEqual(base, run.fingerprint_lines(self.lines + self.lines[:1]))
        self.assertNotEqual(base, run.fingerprint_lines(self.lines[:-1] + ["{}"]))


class RowFingerprintTest(unittest.TestCase):
    """Runs graft.perfbench.SelfTest: row order and partition count must not
    change the Spark-side fingerprint. Builds the harness first."""

    def test_spark_fingerprint(self):
        out = os.path.join(ROOT, ".bench_build")
        classpath = build.build(ROOT, out)
        with tempfile.TemporaryDirectory(dir=out) as work:
            cmd = build.java_cmd(ROOT, classpath, "graft.perfbench.SelfTest", [work])
            res = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        self.assertEqual(res.returncode, 0, res.stderr[-2000:])
        self.assertIn("SelfTest ok", res.stdout)


if __name__ == "__main__":
    unittest.main()
