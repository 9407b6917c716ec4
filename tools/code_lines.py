"""Count code lines in Python files: lines that carry a token other than
a comment, and that are not part of a docstring. Blank lines, comment
lines and docstring lines do not count; a line with code and a trailing
comment does.

    python3 tools/code_lines.py auth2wd_spark tests
    python3 tools/code_lines.py auth2wd_spark/operators/linking.py

Prints one line per file, then one total per directory (each directory
from a file up to the argument that named it), then the grand total.
Standard library only.
"""

from __future__ import annotations

import ast
import sys
import tokenize
from collections import Counter
from pathlib import Path

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: Path) -> int:
    """Number of code lines in one Python source file."""
    source = path.read_bytes()
    docstrings = _docstring_lines(ast.parse(source))
    lines = set()
    with path.open("rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type not in _NOT_CODE:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def main(args: list[str]) -> None:
    per_dir = Counter()
    total = 0
    for arg in args or ["."]:
        root = Path(arg)
        top = root.parent if root.is_file() else root
        for path in [root] if root.is_file() else sorted(root.rglob("*.py")):
            n = code_lines(path)
            print(f"{n:7d}  {path}")
            total += n
            for parent in path.parents:
                per_dir[parent] += n
                if parent == top:
                    break
    for directory in sorted(per_dir):
        print(f"{per_dir[directory]:7d}  {directory}/")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
