"""Count the package's code lines: lines that hold Python code, not
counting blank lines, comment-only lines and docstrings.

Usage:
    python scripts/code_lines.py

Prints one line per module (package-relative path and its count),
largest first, then the package total. A string that is the first
statement of a module, class or function body is a docstring; every
other string (SQL text, f-strings) counts on each line it spans.
"""

from __future__ import annotations

import ast
import os
import tokenize

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dbt_datbricks_demo_spark",
)
_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as fh:
        source = fh.read()
    lines = set()
    with open(path, "rb") as fh:
        for tok in tokenize.tokenize(fh.readline):
            if tok.type not in _NOT_CODE:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main() -> None:
    counts = {}
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                counts[os.path.relpath(path, PACKAGE)] = code_lines(path)
    for name, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {name}")
    print(f"{sum(counts.values()):7d}  total ({len(counts)} modules)")


if __name__ == "__main__":
    main()
