#!/usr/bin/env python3
"""Unit test of tools/dup_scan.py's window scan: python3 tools/test_dup_scan.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from dup_scan import scan  # noqa: E402

BLOCK = [f"val name{i} = compute({i})" for i in range(6)]


def text(lines):
    return "\n".join(lines) + "\n"


class ScanTest(unittest.TestCase):

    def test_first_copy_is_free_later_copies_count(self):
        self.assertEqual(scan([("a", text(BLOCK)), ("b", text(BLOCK))]),
                         {"a": 0, "b": 6})

    def test_repeat_inside_one_file_counts_once_per_line(self):
        # the second copy's 6 lines; the 7-line run repeats 2 windows
        # that overlap in 5 lines, so it adds 7, not 12
        run = BLOCK + ["val extra = compute(6)"]
        self.assertEqual(scan([("a", text(run + ["}"] + run))]), {"a": 7})

    def test_indent_and_sql_margin_are_trimmed(self):
        sql = ["  |" + l for l in BLOCK]
        self.assertEqual(scan([("a", text(BLOCK)), ("b", text(sql))]),
                         {"a": 0, "b": 6})

    def test_short_lines_and_comments_break_windows(self):
        for breaker in ("", "x = 1", "// a comment line", "* scaladoc",
                        "/* block */ code"):
            copy = BLOCK[:3] + [breaker] + BLOCK[3:]
            self.assertEqual(
                scan([("a", text(copy)), ("b", text(copy))])["b"], 0,
                breaker)


if __name__ == "__main__":
    unittest.main()
