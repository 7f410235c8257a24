"""Count the code lines of Python files: lines holding at least one
token that is not a comment, a docstring, or whitespace.

Usage:
    python tools/code_lines.py FILE [FILE ...]
    python tools/code_lines.py --rev REV FILE [FILE ...]   # files as of a git revision

Prints one line per file and a total.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize


def code_lines(src: str) -> int:
    docstring_lines: set[int] = set()
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, scopes) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            docstring_lines.update(range(doc.lineno, doc.end_lineno + 1))
    skip = {
        tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
    }
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in skip:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in docstring_lines:
                lines.add(ln)
    return len(lines)


def main(argv: list[str]) -> int:
    rev = None
    if argv[:1] == ["--rev"]:
        rev, argv = argv[1], argv[2:]
    total = 0
    for path in argv:
        if rev is None:
            with open(path) as f:
                src = f.read()
        else:
            src = subprocess.run(
                ["git", "show", f"{rev}:{path}"], capture_output=True, text=True, check=True
            ).stdout
        n = code_lines(src)
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
