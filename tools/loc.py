#!/usr/bin/env python3
"""Count code, comment and blank lines per package of a Scala source tree.

Usage: python3 tools/loc.py [root]   (default root: src/main)

A line is blank when it holds only whitespace, comment when it holds
nothing but comment text (a `//` line, or a line inside or opening a
`/* ... */` block, scaladoc included), and code otherwise; a code line
with a trailing comment counts as code. Comment markers inside string
literals are scanned like real ones; no string in this tree changes a
count that way. The package of a file is its directory relative to
`root`, dotted.
"""
import os
import sys
from collections import defaultdict


def classify(lines):
    """Yield 'blank', 'comment' or 'code' for each line."""
    in_block = False
    for line in lines:
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                yield "comment"
                continue
            in_block = False
            s = s[end + 2:].strip()
            if not s or s.startswith("//"):
                yield "comment"
                continue
            yield "code"
            continue
        if not s:
            yield "blank"
        elif s.startswith("//"):
            yield "comment"
        elif s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                yield "comment"
            else:
                rest = s[end + 2:].strip()
                yield "comment" if not rest or rest.startswith("//") \
                    else "code"
        else:
            if "/*" in s and "*/" not in s[s.index("/*"):]:
                in_block = True
            yield "code"


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    counts = defaultdict(lambda: defaultdict(int))
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".scala"):
                continue
            rel = os.path.relpath(d, root)
            parts = [p for p in rel.split(os.sep) if p not in (".", "scala")]
            pkg = ".".join(parts) or "<root>"
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                for kind in classify(fh.read().splitlines()):
                    counts[pkg][kind] += 1
    print(f"{'package':<24} {'code':>7} {'comment':>8} {'blank':>7} {'total':>7}")
    tot = defaultdict(int)
    for pkg in sorted(counts):
        c = counts[pkg]
        total = c["code"] + c["comment"] + c["blank"]
        print(f"{pkg:<24} {c['code']:>7} {c['comment']:>8} {c['blank']:>7} "
              f"{total:>7}")
        for k in ("code", "comment", "blank"):
            tot[k] += c[k]
    total = tot["code"] + tot["comment"] + tot["blank"]
    print(f"{'TOTAL':<24} {tot['code']:>7} {tot['comment']:>8} "
          f"{tot['blank']:>7} {total:>7}")


if __name__ == "__main__":
    main()
