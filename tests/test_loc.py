"""tools/loc.py's blank / code / prose split on a fixed source string."""

from tools import loc

SRC = '''"""Module docstring,
over two lines."""

import os  # a trailing comment is code

# a comment-only line is prose


class C:
    """Class docstring."""

    def f(self):
        """Function docstring

        with a blank line inside, which is prose."""
        s = """a string that is
not a docstring is code"""
        return (s,
                # a comment inside brackets is prose
                os.sep)
'''


def test_counts_blank_code_and_prose_lines():
    # blank: 3, 5, 7, 8, 11; code: 4, 9, 12, 16-18, 20;
    # prose: 1-2, 6, 10, 13-15, 19
    assert loc.count(SRC) == (5, 7, 8)


def test_lines_add_up():
    blank, code, prose = loc.count(SRC)
    assert blank + code + prose == len(SRC.splitlines())
