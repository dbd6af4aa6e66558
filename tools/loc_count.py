#!/usr/bin/env python3
"""Count blank, comment and code lines of the Scala sources.

Usage: python3 tools/loc_count.py [repo_dir]

Rule, per line of every .scala file under src/main and src/test:
  blank   -- whitespace only;
  comment -- starts with `//` or `/*` after trimming, or lies inside a
             `/* ... */` block opened by such a line (through the line
             holding the closing `*/`);
  code    -- every other line.
"""
import pathlib
import sys


def count(path):
    blank = comment = code = 0
    in_block = False
    for line in path.read_text(encoding="utf-8").splitlines():
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
    return blank, comment, code


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    for tree in ("src/main", "src/test"):
        totals = [0, 0, 0]
        for f in sorted((root / tree).rglob("*.scala")):
            totals = [a + b for a, b in zip(totals, count(f))]
        blank, comment, code = totals
        print(f"{tree}: code {code}  comment {comment}  blank {blank}")


if __name__ == "__main__":
    main()
