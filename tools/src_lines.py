#!/usr/bin/env python3
"""Count comment, code and blank lines per Scala file under src/main.

Usage: python3 tools/src_lines.py [root]   (default root: src/main)

Rule, per line:
  - blank:   empty after trimming;
  - comment: the trimmed line starts with `//`, or the line lies inside a
    `/* ... */` block (the lines that open and close it included);
  - code:    every other line.

Prints one `comment code blank path` row per file, then the totals.
"""
import os
import sys


def count(path):
    comment = code = blank = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if in_block:
                comment += 1
                in_block = "*/" not in t
            elif not t:
                blank += 1
            elif t.startswith("//"):
                comment += 1
            elif t.startswith("/*"):
                comment += 1
                in_block = "*/" not in t[2:]
            else:
                code += 1
    return comment, code, blank


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    totals = [0, 0, 0]
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            c = count(path)
            totals = [a + b for a, b in zip(totals, c)]
            print(f"{c[0]:6d} {c[1]:6d} {c[2]:6d}  {path}")
    print(f"{totals[0]:6d} {totals[1]:6d} {totals[2]:6d}  total "
          "(comment code blank)")


if __name__ == "__main__":
    main()
