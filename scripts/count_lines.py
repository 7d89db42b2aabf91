"""Classify the lines of the Python files under a path as code,
docstring, comment or blank, and print the totals.

    python scripts/count_lines.py pipelinedp_spark/

A docstring line is any line of a string-literal expression statement
that opens a module, class or function body; a comment line holds only
a ``#`` comment; a blank line holds only whitespace. Every other line is
code, so a line mixing code and a trailing comment counts as code.
"""

import ast
import os
import sys


def _docstring_lines(tree: ast.AST) -> set:
    lines = set()
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


def classify(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src, path))
    counts = dict.fromkeys(("code", "docstring", "comment", "blank"), 0)
    for i, line in enumerate(src.splitlines(), 1):
        s = line.strip()
        if i in doc:
            counts["docstring"] += 1
        elif not s:
            counts["blank"] += 1
        elif s.startswith("#"):
            counts["comment"] += 1
        else:
            counts["code"] += 1
    return counts


def main(root: str) -> None:
    files = [root] if os.path.isfile(root) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root)
        for f in fs if f.endswith(".py"))
    total = dict.fromkeys(("code", "docstring", "comment", "blank"), 0)
    for path in files:
        for k, v in classify(path).items():
            total[k] += v
    for k, v in total.items():
        print(f"{k:<10} {v:>7}")
    print(f"{'total':<10} {sum(total.values()):>7}")


if __name__ == "__main__":
    main(sys.argv[1])
