"""Tests for tools/code_lines.py. Run: python3 -m unittest discover tools"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import code_lines  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "testdata", "code_lines_fixture.scala")


class CodeLinesTest(unittest.TestCase):

    def test_fixture_counts_code_outside_comments_and_oracle(self):
        with open(FIXTURE, encoding="utf-8") as fh:
            self.assertEqual(code_lines.count(fh.read()), 5)

    def test_one_line_oracle_block_ends_on_its_own_line(self):
        text = 'val a = 1\nf(Some("""SELECT 1"""))\nval b = 2\n'
        self.assertEqual(code_lines.count(text), 2)

    def test_star_line_is_a_comment(self):
        self.assertEqual(code_lines.count("  * x\n*/\nval a = 1\n"), 1)

    def test_cli_prints_file_and_total(self):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "code_lines.py"), FIXTURE],
            check=True, capture_output=True, text=True).stdout.splitlines()
        self.assertEqual(out[0].split(), ["5", FIXTURE])
        self.assertEqual(out[1].split(), ["5", "total"])


if __name__ == "__main__":
    unittest.main()
