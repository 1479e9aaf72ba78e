"""Count the code lines of Python files.

A code line holds at least one token that is not a comment, and lies
outside every docstring (module, class and function docstrings, found
with ``ast``). Blank lines, comment-only lines and docstring lines do
not count; a multi-line token (a long string, a bracketed expression
split over lines) counts every line it spans.

Usage: python tools/code_lines.py PATH... | FILE::NAME...

Prints one ``<count>  <path>`` line per file (directories are walked
for ``*.py``) and, for more than one file, a ``total`` line.
``FILE::NAME`` counts only the top-level function ``NAME`` of ``FILE``
(its decorators included), by the same rules.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

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
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str, name: str = "") -> int:
    """The number of code lines in ``source``, or in its top-level
    function ``name`` when one is given."""
    tree = ast.parse(source)
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    lines -= _docstring_lines(tree)
    if name:
        funcs = [
            n for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name == name
        ]
        if not funcs:
            raise SystemExit(f"no top-level function {name!r}")
        node = funcs[-1]
        first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        lines = {n for n in lines if first <= n <= node.end_lineno}
    return len(lines)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                out += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(
            "usage: python tools/code_lines.py PATH... | FILE::NAME...",
            file=sys.stderr,
        )
        return 2
    total = 0
    files = _files(argv)
    for path in files:
        file, _, name = path.partition("::")
        with open(file, encoding="utf-8") as f:
            n = code_lines(f.read(), name)
        total += n
        print(f"{n:>7}  {path}")
    if len(files) > 1:
        print(f"{total:>7}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
