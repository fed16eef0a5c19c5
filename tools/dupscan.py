#!/usr/bin/env python3
"""Repeated-code scan over Scala sources.

Every file is read as a sequence of stripped lines. A window is WIDTH (6)
consecutive lines; a window that holds a blank, short (< MIN_LEN (4)
characters) or comment line is skipped. The first occurrence of a
window's text, in path order, is the original; every later one is a
copy, and each line that lies in at least one copy counts once. The
count is split into lines inside a triple-quoted string (the registry's
SQL texts) and lines of Scala code.

Usage:
  python3 tools/dupscan.py PATH...
    PATH is a .scala file or a directory searched for them. Prints one
    line per file with copied lines (total, sql, code), then the totals.
"""
import os
import sys
from collections import defaultdict

WIDTH = 6
MIN_LEN = 4


def scala_files(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                out += [os.path.join(root, n) for n in names if n.endswith(".scala")]
        elif p.endswith(".scala"):
            out.append(p)
    return sorted(set(out))


def read_lines(path):
    """Each line stripped, with whether it lies in a triple-quoted string."""
    lines, in_str = [], False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            text = raw.strip()
            quotes = text.count('"""')
            # a line that opens, closes or continues a string is SQL text
            lines.append((text, in_str or quotes > 0))
            if quotes % 2:
                in_str = not in_str
    return lines


def is_comment(text):
    return text.startswith(("//", "/*", "*"))


def scan(files):
    seen = set()
    copied = defaultdict(set)  # path -> line numbers in a copy
    contents = {}
    for path in files:
        lines = read_lines(path)
        contents[path] = lines
        ok = [len(t) >= MIN_LEN and not is_comment(t) for t, _ in lines]
        for i in range(len(lines) - WIDTH + 1):
            if not all(ok[i:i + WIDTH]):
                continue
            key = tuple(t for t, _ in lines[i:i + WIDTH])
            if key in seen:
                copied[path].update(range(i, i + WIDTH))
            else:
                seen.add(key)
    rows = []
    for path in files:
        nums = copied.get(path, set())
        if nums:
            sql = sum(1 for n in nums if contents[path][n][1])
            rows.append((path, len(nums), sql, len(nums) - sql))
    return rows


def main(paths):
    if not paths:
        sys.exit(__doc__)
    rows = scan(scala_files(paths))
    print(f"{'lines':>6} {'sql':>6} {'code':>6}  file")
    for path, n, sql, code in sorted(rows, key=lambda r: -r[1]):
        print(f"{n:6d} {sql:6d} {code:6d}  {path}")
    total = sum(r[1] for r in rows)
    sql = sum(r[2] for r in rows)
    print(f"{total:6d} {sql:6d} {total - sql:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
