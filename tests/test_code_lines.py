"""``tools/code_lines.py`` line counts on a fixed source (no Spark session)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.code_lines import count_lines

SOURCE = '''"""Module docstring,
over two lines."""

# a comment
import os  # code with a trailing comment


class A:
    """Class docstring."""

    x = """a multi-line string
that is code"""

    def f(self):
        """Function
        docstring."""
        return (
            1
        )
'''


def test_count_lines_skips_blank_comment_and_docstring_lines():
    total, code = count_lines(SOURCE)
    assert total == 19
    # import, class, x = (2 lines), def, return (3 lines)
    assert code == 8
