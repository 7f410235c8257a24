"""Count the code lines of Python files: lines holding at least one
token that is not a comment, a docstring, or whitespace.

Usage:
    python tools/code_lines.py PATH [PATH ...]
    python tools/code_lines.py --rev REV PATH [PATH ...]   # as of a git revision

A PATH is a file or a directory; a directory stands for every
git-tracked .py file under it (tracked at REV with --rev). Run from the
repository root. Prints one line per file and a total.
"""

from __future__ import annotations

import ast
import io
import os
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


def git(*args: str) -> str:
    return subprocess.run(["git", *args], capture_output=True, text=True, check=True).stdout


def expand(path: str, rev: str | None) -> list[str]:
    """``path`` itself when it is a file, else the tracked .py files
    under it."""
    if rev is None:
        if not os.path.isdir(path):
            return [path]
        files = git("ls-files", "--", path).splitlines()
    else:
        files = git("ls-tree", "-r", "--name-only", rev, "--", path).splitlines()
        if files == [os.path.normpath(path)]:
            return files
    return [f for f in files if f.endswith(".py")]


def main(argv: list[str]) -> int:
    rev = None
    if argv[:1] == ["--rev"]:
        rev, argv = argv[1], argv[2:]
    total = 0
    for path in [f for p in argv for f in expand(p, rev)]:
        if rev is None:
            with open(path) as f:
                src = f.read()
        else:
            src = git("show", f"{rev}:{path}")
        n = code_lines(src)
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
