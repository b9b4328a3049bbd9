#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines under src/main and src/test.

Rule: a line counts when anything but whitespace is left on it after
removing comments. Comments are `//` to the end of the line and `/* */`
blocks (nested, as Scala nests them, and across lines). Comment markers
inside string literals (plain, triple-quoted across lines, interpolated)
and character literals ('"', '/') are string content, not comments, so
a line holding only a string counts.

Usage: python3 tools/loc.py [repo dir]   (default: this script's checkout)
Prints one line per tree: `src/main <n>` and `src/test <n>`.
"""
import os
import sys


def code_lines(text):
    """Non-blank, non-comment lines of one Scala source."""
    count = 0
    depth = 0          # open /* */ blocks
    in_triple = False  # inside a """ string, which may span lines
    for line in text.split("\n"):
        kept = []
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    kept.append(line[i:])
                    i = n
                else:
                    kept.append(line[i:end + 3])
                    i = end + 3
                    in_triple = False
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple = True
                kept.append('"""')
                i += 3
            elif c == '"':
                j = i + 1
                while j < n and line[j] != '"':
                    j += 2 if line[j] == "\\" else 1
                kept.append(line[i:j + 1])
                i = j + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                kept.append(line[i:i + 3])
                i += 3
            elif c == "'" and line.startswith("\\", i + 1) and line.find("'", i + 3) > 0:
                j = line.find("'", i + 3)
                kept.append(line[i:j + 1])
                i = j + 1
            else:
                kept.append(c)
                i += 1
        if "".join(kept).strip():
            count += 1
    return count


def tree_lines(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for tree in ("src/main", "src/test"):
        print(tree, tree_lines(os.path.join(repo, tree)))


if __name__ == "__main__":
    main()
