"""Total and code-only line counts of Python sources.

A code line holds at least one token that is not a comment and is not
part of a docstring (the string literal that opens a module, class or
function body). Blank lines, comment-only lines and docstring lines are
not code lines; a line with code and a trailing comment is.

    python tools/code_lines.py [PATH ...]

Prints ``total code path`` per path, then the sum. A directory counts every
``*.py`` file below it. With no path it counts what ROADMAP north star 2
tracks (``inde1_spark/operators/``, ``inde1_spark/oracles.py``,
``__spark_entry__.py``) plus ``inde1_spark/streaming/``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_PATHS = (
    "inde1_spark/operators",
    "inde1_spark/oracles.py",
    "__spark_entry__.py",
    "inde1_spark/streaming",
)
_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_lines(source: str) -> tuple[int, int]:
    """``(total, code)`` line counts of one Python source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return len(source.splitlines()), len(code)


def count_path(path: Path) -> tuple[int, int]:
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    total = code = 0
    for f in files:
        t, c = count_lines(f.read_text())
        total, code = total + t, code + c
    return total, code


def main(argv: list[str]) -> int:
    paths = argv or list(DEFAULT_PATHS)
    base = Path.cwd() if argv else ROOT
    sum_total = sum_code = 0
    for p in paths:
        total, code = count_path(base / p)
        sum_total, sum_code = sum_total + total, sum_code + code
        print(f"{total:7d} {code:7d} {p}")
    if len(paths) > 1:
        print(f"{sum_total:7d} {sum_code:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
