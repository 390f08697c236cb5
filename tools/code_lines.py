"""Count code lines: lines that hold a token other than a comment or a
docstring.

Blank lines, comment-only lines and the lines of module, class and
function docstrings do not count; every other line that Python's
tokenizer puts a token on does, including each line a multi-line
expression or string literal spans. Formatting therefore moves the
count only where it moves code onto more or fewer lines.

    python tools/code_lines.py lakehouse_engine_spark/datapipes/dedup.py
    python tools/code_lines.py lakehouse_engine_spark/datapipes

prints one ``<count>  <path>`` line per ``.py`` file (a directory is
walked recursively) and, for more than one file, a ``total`` line.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from typing import Iterator, List, Set

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(source: str) -> Set[int]:
    lines: Set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_code_lines(source: str) -> int:
    """Number of lines of ``source`` that hold a code token."""
    docs = _docstring_lines(source)
    lines: Set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE and tok.start[0] not in docs:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _py_files(path: str) -> Iterator[str]:
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)


def main(argv: List[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    files = [f for p in argv for f in _py_files(p)]
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            n = count_code_lines(fh.read())
        total += n
        print(f"{n:6d}  {f}")
    if len(files) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
