"""tools/code_lines.py: the one code-line counter the CHANGES entries quote."""

import importlib.util
import os

HERE = os.path.dirname(os.path.abspath(__file__))
TOOL = os.path.join(os.path.dirname(HERE), "tools", "code_lines.py")

SNIPPET = '''"""Module docstring:
two lines, not code."""
import os  # a trailing comment does not hide code

# a comment-only line


class A:
    """Class docstring."""

    x = (
        1,
        2,
    )

    def f(self):
        """Function docstring
        over two lines."""
        s = """a string literal
        that is code"""
        return s
'''


def test_counts_code_lines_of_a_fixed_snippet():
    spec = importlib.util.spec_from_file_location("code_lines", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # import, class, the 4 lines of x, def, the 2 lines of s, return
    assert mod.count_code_lines(SNIPPET) == 10
