#!/usr/bin/env python3
"""Count the code lines of the .scala files under one or more paths.

A code line is a line that is not blank, not a `//` comment line and not
inside a `/* ... */` block (scaladoc included). A line holding code before
or after a comment counts as code.

Usage: python3 tools/loc.py <path> [<path> ...]
Prints one `<lines>  <path>` row per path, then a total when given several.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                n += 1
                break
    return n


def count_path(path):
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f)
                 for d, _, fs in os.walk(path) for f in fs if f.endswith(".scala")]
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            total += code_lines(fh.read())
    return total


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    counts = [(count_path(p), p) for p in argv]
    for n, p in counts:
        print(f"{n}  {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts)}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
