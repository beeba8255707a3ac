"""Count code lines in Python files: lines holding at least one token
that is not a comment, with blank lines and docstrings left out.

    python tools/code_lines.py ebike_spark/engine

prints one count per file and the total on the last line. A directory
argument stands for its ``*.py`` files, sorted.
"""

from __future__ import annotations

import ast
import glob
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
         tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
            lines.difference_update(range(body[0].lineno, body[0].end_lineno + 1))
    return len(lines)


if __name__ == "__main__":
    total = 0
    paths = [
        p for arg in sys.argv[1:]
        for p in (sorted(glob.glob(os.path.join(arg, "*.py"))) if os.path.isdir(arg) else [arg])
    ]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")
