#!/usr/bin/env python3
"""Count code lines of the package: lines holding at least one token
that is not a comment, a blank line or part of a docstring.

Usage: python scripts/loc.py [--functions N] [path ...]

Paths default to ``nursinghome_data_pipeline_spark/`` (directories are
walked for ``*.py``). Docstrings are found with ``ast`` (the first
statement of a module, class or function when it is a string
constant); the remaining lines are classified with ``tokenize``, so a
multi-line expression or string counts every line it spans. Prints the
per-file counts, then the total. ``--functions N`` also prints the N
largest functions by the same measure (nested functions count inside
their parent and on their own).
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = os.path.join(REPO, "nursinghome_data_pipeline_spark")
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> tuple[set[int], ast.Module]:
    """(line numbers holding code, parsed module) of one source file."""
    tree = ast.parse(source)
    doc_lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                doc_lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        span = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.STRING and tok.start[0] in doc_lines:
            continue
        lines.update(span)
    return lines, tree


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
        else:
            out.append(p)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--functions", type=int, default=0, metavar="N")
    ap.add_argument("paths", nargs="*", default=[DEFAULT])
    args = ap.parse_args()
    total = 0
    funcs: list[tuple[int, str]] = []
    for path in _files(args.paths):
        with open(path, encoding="utf-8") as fh:
            lines, tree = code_lines(fh.read())
        total += len(lines)
        rel = os.path.relpath(path, REPO)
        print(f"{len(lines):7,d}  {rel}")
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n = sum(1 for ln in lines if node.lineno <= ln <= node.end_lineno)
                funcs.append((n, f"{rel}:{node.lineno} {node.name}"))
    if args.functions:
        print()
        for n, name in sorted(funcs, key=lambda t: (-t[0], t[1]))[: args.functions]:
            print(f"{n:7,d}  {name}")
    print(f"{total:7,d}  total")


if __name__ == "__main__":
    sys.exit(main())
