#!/usr/bin/env python3
"""List code blocks that are written out more than once in the Scala sources.

Usage:
  python3 tools/dupscan.py [--min N] [DIR]

DIR defaults to ``src/main`` and ``--min`` to 5. Every ``*.scala`` file under
DIR is reduced to its normalized code lines: leading and trailing whitespace
is stripped, runs of whitespace become one space and a trailing ``//`` comment
is dropped. These lines are skipped: blank lines, comments (``//`` lines and
``/* ... */`` blocks, scaladoc included), ``package`` and ``import`` lines,
``|``-prefixed lines (the margins of SQL strings) and lines without a letter
or digit (closing brackets).

A block is a run of at least N consecutive normalized lines that also occurs
somewhere else, extended as far as both copies agree. Blocks with the same
text are reported once, with ``file:line`` of each copy's first line, largest
first (lines times copies). The exit status is 0 either way; the last line
counts the blocks.
"""
import argparse
import re
import sys
from collections import defaultdict
from pathlib import Path

WS = re.compile(r"\s+")
TRAILING_COMMENT = re.compile(r"\s//(?!.*\").*$")
HAS_WORD = re.compile(r"\w")


def code_lines(path):
    """Yields (line number, normalized text) for each code line of a file."""
    in_block = False
    for no, raw in enumerate(path.read_text().splitlines(), 1):
        s = raw.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                s = s.split("*/", 1)[1].strip()
            else:
                continue
        if s.startswith("/*"):
            if "*/" not in s:
                in_block = True
                continue
            s = s.split("*/", 1)[1].strip()
        if not s or s.startswith("//") or s.startswith("|"):
            continue
        if s.startswith("import ") or s.startswith("package "):
            continue
        s = WS.sub(" ", TRAILING_COMMENT.sub("", s)).strip()
        if HAS_WORD.search(s):
            yield no, s


def scan(root, n):
    files = {}
    for p in sorted(Path(root).rglob("*.scala")):
        files[str(p)] = list(code_lines(p))
    windows = defaultdict(list)
    for f, lines in files.items():
        texts = [t for _, t in lines]
        for i in range(len(texts) - n + 1):
            windows[tuple(texts[i:i + n])].append((f, i))
    blocks = defaultdict(set)
    for occ in windows.values():
        for a in range(len(occ)):
            for b in range(a + 1, len(occ)):
                (fa, ia), (fb, ib) = occ[a], occ[b]
                la, lb = files[fa], files[fb]
                if ia > 0 and ib > 0 and la[ia - 1][1] == lb[ib - 1][1]:
                    continue  # not the first line of the match
                size = n
                while (ia + size < len(la) and ib + size < len(lb)
                       and la[ia + size][1] == lb[ib + size][1]):
                    size += 1
                if fa == fb:
                    size = min(size, abs(ia - ib))
                if size < n:
                    continue
                text = tuple(t for _, t in la[ia:ia + size])
                blocks[text].add((fa, la[ia][0]))
                blocks[text].add((fb, lb[ib][0]))
    return sorted(blocks.items(), key=lambda kv: (-len(kv[0]) * len(kv[1]), sorted(kv[1])))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dir", nargs="?", default="src/main")
    ap.add_argument("--min", type=int, default=5, help="shortest block, in normalized lines")
    args = ap.parse_args()
    found = scan(args.dir, args.min)
    for text, where in found:
        print(f"{len(text)} lines x {len(where)} copies: {text[0]}")
        for f, line in sorted(where):
            print(f"  {f}:{line}")
    print(f"{len(found)} duplicated blocks of >= {args.min} lines under {args.dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
