#!/usr/bin/env python3
"""Count repeated lines under src/main/scala, separately for Scala code and
for the SQL inside triple-quoted strings.

    python3 tools/dupscan.py [-v] [root]

A line counts as repeated when it lies in a window of 4 or more consecutive
non-blank lines of one file that equals an earlier window anywhere under the
root, after whitespace is collapsed. Code lines skip comments, imports and
triple-quoted strings; SQL lines are the lines inside triple-quoted strings,
minus `--` comment lines. Output is two `name=value` lines; `-v` also lists
each repeated block as `file:line` with the location of its earlier copy.
"""
import os
import re
import sys

WINDOW = 4
TRIPLE = '"""'


def split_lines(text):
    """Return (code, sql): lists of (line_no, collapsed_text).

    A line holding a triple quote opens or closes a string and belongs to
    neither list; block comments are tracked across lines."""
    code, sql = [], []
    in_str = False
    in_block = False
    for no, raw in enumerate(text.splitlines(), 1):
        line = re.sub(r"\s+", " ", raw).strip()
        if TRIPLE in line:
            if raw.count(TRIPLE) % 2 == 1:
                in_str = not in_str
            continue
        if in_str:
            if line and not line.startswith("--"):
                sql.append((no, line))
            continue
        if in_block:
            if "*/" not in line:
                continue
            line = line[line.index("*/") + 2:].strip()
            in_block = False
        if line.startswith("/*"):
            if "*/" not in line:
                in_block = True
                continue
            line = line[line.index("*/") + 2:].strip()
        if line and not line.startswith("//") and not line.startswith("import "):
            code.append((no, line))
    return code, sql


def repeated(files):
    """files: list of (path, [(line_no, text)]). Returns (count, blocks)."""
    seen = {}
    count = 0
    blocks = []
    for path, lines in files:
        hit = [False] * len(lines)
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(t for _, t in lines[i:i + WINDOW])
            first = seen.get(key)
            if first is None:
                seen[key] = (path, lines[i][0])
                continue
            if not hit[i]:
                blocks.append((path, lines[i][0], first))
            for j in range(i, i + WINDOW):
                hit[j] = True
        count += sum(hit)
    return count, blocks


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")
    paths = []
    for d, _, names in os.walk(root):
        paths += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    paths.sort()
    code_files, sql_files = [], []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            code, sql = split_lines(f.read())
        rel = os.path.relpath(p, root)
        code_files.append((rel, code))
        sql_files.append((rel, sql))
    for name, files in (("code_repeat_lines", code_files), ("sql_repeat_lines", sql_files)):
        n, blocks = repeated(files)
        print(f"{name}={n}")
        if verbose:
            for path, line, (fpath, fline) in blocks:
                print(f"  {path}:{line}  (first at {fpath}:{fline})")


if __name__ == "__main__":
    main(sys.argv[1:])
