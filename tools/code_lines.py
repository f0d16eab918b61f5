#!/usr/bin/env python3
"""Count code lines: `/* */` and `//` comments stripped, blank lines dropped.

One regex pass per file removes block and line comments (a `//` inside a
string literal is stripped too; the count is a trend measure, not a
parser). Every file under each PATH is counted.

Usage:
  python3 tools/code_lines.py [--rev REV] PATH...

With --rev the files are read from that git revision instead of the
working tree, so a change's before/after is two runs:
  python3 tools/code_lines.py --rev HEAD~1 src/main src/test
  python3 tools/code_lines.py src/main src/test
"""
import argparse
import os
import re
import subprocess
import sys

COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)


def code_lines(text: str) -> int:
    return sum(1 for line in COMMENT.sub("", text).splitlines() if line.strip())


def files_at(rev, path):
    if rev is None:
        if os.path.isfile(path):
            return [path]
        return sorted(os.path.join(d, f)
                      for d, _, fs in os.walk(path) for f in fs)
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", path],
                         check=True, capture_output=True, text=True).stdout
    return out.split()


def read_at(rev, path):
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to read instead of the working tree")
    ap.add_argument("paths", nargs="+")
    a = ap.parse_args()
    total = 0
    for p in a.paths:
        p = p.rstrip("/")
        n = sum(code_lines(read_at(a.rev, f)) for f in files_at(a.rev, p))
        print(f"{n:8d}  {p}")
        total += n
    if len(a.paths) > 1:
        print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
