"""Count code lines: non-blank lines that are neither comments nor docstrings.

    python tools/code_lines.py incubator_sedona_spark/operators/joins.py ...

Prints one count per file and the total.  A docstring is the leading string
literal of a module, class or function body.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                    and isinstance(first.value.value, str):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(ln for ln in range(tok.start[0], tok.end[0] + 1) if ln not in doc)
    return len(lines)


def main(paths: list[str]) -> None:
    total = 0
    for p in paths:
        with open(p) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d} {p}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
