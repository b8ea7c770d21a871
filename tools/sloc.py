#!/usr/bin/env python3
"""Count source lines that are neither blank nor comment.

Usage: python3 tools/sloc.py <dir> [<dir> ...]

Walks each directory for .scala and .java files and prints the count of
lines holding at least one character of code (string literals count as
code), one line per directory, then the total when given several. `//`
line comments and `/* */` block comments (nested, as Scala nests them)
are not code; comment markers inside string literals are.
"""
import sys
from pathlib import Path

EXTS = {".scala", ".java"}


def code_lines(text):
    n = 0
    depth = 0          # block-comment nesting depth
    quote = None       # None, '"', '"""' or "'"
    for line in text.splitlines():
        has_code = False
        i = 0
        while i < len(line):
            c = line[i]
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif quote:
                has_code = True
                if quote == '"""':
                    if line.startswith('"""', i):
                        quote = None
                        i += 3
                    else:
                        i += 1
                elif c == "\\":
                    i += 2
                elif c == quote:
                    quote = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code, quote = True, '"""'
                i += 3
            elif c == '"':
                has_code, quote = True, '"'
                i += 1
            elif c == "'" and (line[i + 1:i + 3].endswith("'") or line.startswith("'\\", i)):
                # a char literal ('x' or '\n'); a bare ' is a Scala symbol
                # or type-parameter tick and opens nothing
                has_code, quote = True, "'"
                i += 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if quote in ('"', "'"):
            quote = None   # single-line literals never span lines
        n += has_code
    return n


def count(root):
    return sum(code_lines(p.read_text(encoding="utf-8", errors="replace"))
               for p in sorted(Path(root).rglob("*")) if p.suffix in EXTS)


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    counts = [(d, count(d)) for d in sys.argv[1:]]
    for d, n in counts:
        print(f"{n}\t{d}")
    if len(counts) > 1:
        print(f"{sum(n for _, n in counts)}\ttotal")


if __name__ == "__main__":
    main()
