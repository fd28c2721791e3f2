"""Count code lines: lines that are not blank, not comment-only and not
part of a docstring.

    python tools/code_lines.py temp_data_pipeline_spark            # per file + total
    python tools/code_lines.py --func a.py b.py                    # per function too
    python tools/code_lines.py --func merge.py --only commit_merge_into _cond

A line holding any code token counts once, however many statements it
holds; a docstring is a string-literal statement that opens a module,
class or function body. Nested functions count inside their enclosing
function and again on their own line under ``--func``.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_line_set(source: str) -> set[int]:
    """Line numbers of ``source`` that hold code."""
    skip = {
        tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
    }
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(source))


def function_counts(source: str) -> list[tuple[str, int, int]]:
    """(qualified name, first line, code lines) of every function."""
    code = code_line_set(source)
    out = []

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    first = min(
                        [child.lineno] + [d.lineno for d in child.decorator_list]
                    )
                    span = set(range(first, child.end_lineno + 1))
                    out.append((name, child.lineno, len(code & span)))
                walk(child, name + ".")
            else:
                walk(child, prefix)

    walk(ast.parse(source), "")
    return out


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__pycache__")))
                out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+", help="python files or directories")
    ap.add_argument("--func", action="store_true", help="also count per function")
    ap.add_argument("--only", nargs="+", help="with --func: print these functions and their sum")
    args = ap.parse_args(argv)
    total = picked = 0
    for path in _files(args.paths):
        with open(path, encoding="utf-8") as fh:
            source = fh.read()
        n = len(code_line_set(source))
        total += n
        if not args.only:
            print(f"{n:7d}  {path}")
        if args.func:
            for name, line, k in function_counts(source):
                if args.only and name not in args.only:
                    continue
                picked += k
                print(f"{k:7d}    {path}:{line} {name}")
    if args.only:
        print(f"{picked:7d}  selected functions")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
