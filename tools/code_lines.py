"""Count code lines: lines that hold a token outside comments and
docstrings. Blank lines, comment-only lines and the lines of module,
class and function docstrings do not count; every line a code token
spans (a multi-line expression or non-docstring string) does.

Usage:  python tools/code_lines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory searched recursively for
them. Prints one ``count  file`` line per file, sorted by path, then
the total.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, column) where each docstring's string token begins."""
    starts = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                starts.add((body[0].lineno, body[0].col_offset))
    return starts


def code_lines(source: str) -> int:
    docstrings = _docstring_starts(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        if tok.type == tokenize.STRING and tok.start in docstrings:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _files(paths: list[str]) -> list[pathlib.Path]:
    out = []
    for p in map(pathlib.Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return sorted(set(out))


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    total = 0
    for f in _files(argv):
        n = code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
