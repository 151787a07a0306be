"""Self-tests for the Scala line count in loc.py.

Run: python3 -m unittest tools/test_loc.py
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_do_not_count(self):
        self.assertEqual(loc.code_lines("\n   \n// one\n  // two\nval x = 1\n"), 1)

    def test_code_before_a_comment_counts(self):
        self.assertEqual(loc.code_lines("val x = 1 // one\nval y = 2 /* two */\n"), 2)

    def test_scaladoc_spanning_lines_does_not_count(self):
        src = "/** A doc\n  * spanning\n  * lines. */\nobject A\n"
        self.assertEqual(loc.code_lines(src), 1)

    def test_code_after_a_closing_comment_counts(self):
        self.assertEqual(loc.code_lines("/* a\n b */ val x = 1\n"), 1)

    def test_block_comments_nest(self):
        # The inner `*/` closes only the inner comment, as in Scala.
        src = "/* outer /* inner */\n still comment\n*/\nval x = 1\n"
        self.assertEqual(loc.code_lines(src), 1)

    def test_comment_markers_inside_strings_are_text(self):
        src = 'val a = "image/*"\nval b = "http://x"\nval c = 1\n'
        self.assertEqual(loc.code_lines(src), 3)

    def test_char_literals_and_escapes(self):
        src = "val q = '\"'\nval s = \"a\\\"/*\"\nval t = 2\n"
        self.assertEqual(loc.code_lines(src), 3)

    def test_triple_quoted_strings_span_lines(self):
        src = 'val s = """\n  // not a comment\n\n  /* nor this\n"""\nval t = 1\n'
        # The blank line inside the literal holds no text, so it is blank.
        self.assertEqual(loc.code_lines(src), 5)


class CountPathTest(unittest.TestCase):
    def test_counts_scala_files_only_under_a_directory(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "a", "b"))
            with open(os.path.join(d, "a", "X.scala"), "w") as f:
                f.write("object X\n// c\n")
            with open(os.path.join(d, "a", "b", "Y.scala"), "w") as f:
                f.write("/** d */\nobject Y {\n}\n")
            with open(os.path.join(d, "a", "notes.txt"), "w") as f:
                f.write("text\n")
            self.assertEqual(loc.count_path(d), 3)
            self.assertEqual(loc.count_path(os.path.join(d, "a", "X.scala")), 1)


if __name__ == "__main__":
    unittest.main()
