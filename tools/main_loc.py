#!/usr/bin/env python3
"""Count code lines under src/main/scala, per file and in total.

Usage: python3 tools/main_loc.py [--total]

A code line is a line that is neither blank nor a comment line. A comment
line is a line whose first non-blank characters are `//`, or a line inside a
`/* ... */` block that starts its line (the lines holding the opening and
closing marks included). Prints one `<lines> <file>` row per file, largest
first, then `<lines> total`; `--total` prints only the total.
"""
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "src", "main", "scala")


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            n += 1
    return n


def main():
    counts = []
    for d, _, names in os.walk(ROOT):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                counts.append((code_lines(p), os.path.relpath(p, ROOT)))
    total = sum(c for c, _ in counts)
    try:
        if "--total" not in sys.argv[1:]:
            for c, p in sorted(counts, key=lambda t: (-t[0], t[1])):
                print(f"{c:6d} {p}")
        print(f"{total:6d} total")
    except BrokenPipeError:  # e.g. piped into head
        sys.stderr.close()


if __name__ == "__main__":
    main()
