"""Count code lines: non-blank lines that are not comments or docstrings.

This is the "ast count" the simplicity changes quote: a line counts when
it holds at least one token other than a comment, and it is not part of
a module, class or function docstring.

Usage: python scripts/code_lines.py [path ...]   (default: ivm_extension_spark)

Each path is a file or a directory (searched for ``*.py``).  Prints one
``count  file`` line per file, then ``count  TOTAL``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(argv: list[str]) -> None:
    paths = [Path(p) for p in argv] or [Path("ivm_extension_spark")]
    files = sorted(
        f for p in paths for f in ([p] if p.is_file() else p.rglob("*.py"))
    )
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  TOTAL")


if __name__ == "__main__":
    main(sys.argv[1:])
