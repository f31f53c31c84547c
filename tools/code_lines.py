#!/usr/bin/env python3
"""Count code lines of Scala sources.

A code line is a non-blank line that is not a comment and lies outside
the DuckDB oracle blocks of the query catalog. The rule:

  - a line whose stripped text starts with `//`, `/*` or `*` is a
    comment (scaladoc continuation lines start with `*`);
  - an oracle block runs from the line that opens `Some(\"\"\"` to the
    line that closes its triple quote, both included;
  - everything else that is not blank counts.

Usage: tools/code_lines.py [path ...]   (default: src/main/scala)
Prints one `<count>  <file>` line per .scala file, sorted by path, then
`<count>  total`.
"""
import os
import sys

OPEN = 'Some("""'
QUOTE = '"""'


def count(text):
    n = 0
    in_oracle = False
    for line in text.splitlines():
        s = line.strip()
        if in_oracle:
            if QUOTE in s:
                in_oracle = False
            continue
        i = s.find(OPEN)
        if i >= 0:
            in_oracle = QUOTE not in s[i + len(OPEN):]
            continue
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, files in os.walk(p):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def main(argv):
    paths = argv[1:] or ["src/main/scala"]
    total = 0
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            n = count(fh.read())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
