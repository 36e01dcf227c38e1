#!/usr/bin/env python3
"""Size of Scala sources: lines, code lines and public defs.

Usage: python3 tools/loc.py <file or directory>...

Prints one row per .scala file and a total. A code line is a non-blank
line that, after leading whitespace, does not start with `//`, `/*` or
`*` (scaladoc and comment lines do not count). A public def is a line
matching `^  def ` (a def declared directly in a top-level object or
class, with no access modifier).
"""

import os
import re
import sys

DEF = re.compile(r"^  def ")


def count(path):
    lines = code = defs = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            lines += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
            if DEF.match(line):
                defs += 1
    return lines, code, defs


def scala_files(arg):
    if os.path.isfile(arg):
        return [arg]
    out = []
    for root, _, names in os.walk(arg):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".scala"))
    return sorted(out)


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files = [f for a in argv for f in scala_files(a)]
    total = [0, 0, 0]
    print(f"{'lines':>7} {'code':>7} {'defs':>5}  file")
    for f in files:
        row = count(f)
        total = [t + r for t, r in zip(total, row)]
        print(f"{row[0]:>7} {row[1]:>7} {row[2]:>5}  {f}")
    print(f"{total[0]:>7} {total[1]:>7} {total[2]:>5}  total ({len(files)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
