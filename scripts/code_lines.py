"""Count code lines per module under a package directory.

A code line holds at least one token that is not a comment, and is not
part of a docstring (the first string statement of a module, class or
function). Blank lines are not counted. Prints one line per module and
the total, largest first.

    python scripts/code_lines.py [package_dir]   # default: smaph_spark
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            out.update(range(first.lineno, first.end_lineno + 1))
    return out


def code_lines(src: str) -> int:
    docs = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(r for r in range(tok.start[0], tok.end[0] + 1)
                     if r not in docs)
    return len(lines)


def main(argv: list[str]) -> None:
    root = pathlib.Path(argv[1] if len(argv) > 1 else "smaph_spark")
    counts = {
        str(p.relative_to(root)): code_lines(p.read_text())
        for p in sorted(root.rglob("*.py"))
    }
    for name, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {name}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv)
