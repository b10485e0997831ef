"""Blank, code and prose lines per Python file.

    python3 tools/loc.py mapreduce_go_spark/streaming/jobs.py
    python3 tools/loc.py mapreduce_go_spark tools

A directory stands for every `*.py` file under it. Prose is docstring
lines (module, class and function docstrings, found with `ast`) plus
comment-only lines (found with `tokenize`). A line that holds code and a
trailing comment is code. Blank lines inside a docstring are prose; every
other whitespace-only line is blank. The last line is the total with the
prose share of non-blank lines, the measure the package's prose target
is stated in.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(src: str) -> tuple[int, int, int]:
    """(blank, code, prose) line counts of one module's source."""
    lines = src.splitlines()
    prose = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    comments: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                              tokenize.DEDENT, tokenize.ENDMARKER):
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= prose
    prose |= comments - code
    blank = sum(1 for i, line in enumerate(lines, 1)
                if not line.strip() and i not in prose)
    return blank, len(code), len(prose)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                out += [os.path.join(root, n) for n in sorted(names)
                        if n.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[0], file=sys.stderr)
        print("usage: loc.py PATH [PATH ...]", file=sys.stderr)
        return 2
    total = [0, 0, 0]
    print(f"{'blank':>6} {'code':>6} {'prose':>6}  file")
    for path in _files(argv):
        with open(path, encoding="utf-8") as f:
            row = count(f.read())
        total = [t + n for t, n in zip(total, row)]
        print(f"{row[0]:>6} {row[1]:>6} {row[2]:>6}  {path}")
    blank, code, prose = total
    share = prose / (code + prose) if code + prose else 0.0
    print(f"{blank:>6} {code:>6} {prose:>6}  total "
          f"(prose {100 * share:.1f}% of non-blank)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
