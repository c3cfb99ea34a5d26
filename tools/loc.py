#!/usr/bin/env python3
"""Count the lines of the program's sources under src/main.

Usage (from the root of the repository, or with the root as argument):

    python3 tools/loc.py [ROOT]

Prints the total, code, comment and blank line counts of every .scala and
.java file under ROOT/src/main. A blank line is empty or whitespace only; a
comment line starts, after leading whitespace, with //, /* or *; every
other line is code. Lines inside a /* */ block that start otherwise count
as code, so the rule needs no parser and gives the same count on any
checkout.
"""
import os
import sys


def count(root):
    total = code = comment = blank = 0
    for d, _, names in os.walk(os.path.join(root, "src", "main")):
        for n in sorted(names):
            if not n.endswith((".scala", ".java")):
                continue
            with open(os.path.join(d, n), encoding="utf-8") as fh:
                for line in fh:
                    s = line.strip()
                    total += 1
                    if not s:
                        blank += 1
                    elif s.startswith(("//", "/*", "*")):
                        comment += 1
                    else:
                        code += 1
    return total, code, comment, blank


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    total, code, comment, blank = count(root)
    print(f"total {total:,}  code {code:,}  comment {comment:,}  "
          f"blank {blank:,}")


if __name__ == "__main__":
    main()
