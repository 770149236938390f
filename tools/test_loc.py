#!/usr/bin/env python3
"""Unit test of tools/loc.py's line classifier: python3 tools/test_loc.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import count  # noqa: E402

FIXTURE = '''package x

/** Scaladoc: a `//` here and a "quote" are comment text.
  * @param a not code
  */
object X {
  // a line comment
  val url = "http://example.com" // code with a trailing comment
  /* one-line block */
  val c = '"'; val d = '\\''
  /* outer /* nested */
     still a comment */
  val q = """a
  // inside a string, so code
  """

  def f = 1 /* trailing block */
}
'''


class CountTest(unittest.TestCase):

    def test_fixture(self):
        # code: package, object, val url, val c, val q and its two inner
        # lines, def f, the closing brace; comment: 3 scaladoc lines, the
        # line comment, the one-line block and the two nested-block lines
        self.assertEqual(count(FIXTURE), (9, 7))

    def test_string_hides_comment_openers(self):
        self.assertEqual(count('val s = "/* not a comment"\nval t = 1\n'),
                         (2, 0))

    def test_blank_lines_count_as_neither(self):
        self.assertEqual(count("\n   \n\t\n"), (0, 0))


if __name__ == "__main__":
    unittest.main()
