#!/usr/bin/env python3
"""Count code, comment and blank lines per source file.

Usage: python3 tools/loc.py FILE_OR_DIR...

A directory argument is walked for *.scala, *.java and *.py files. A line is
blank when it is empty after stripping whitespace, a comment line when it
then starts with `/**`, `*` or `//` (Scaladoc bodies and closers included),
and a code line otherwise. Prints one row per file and a closing total row.
"""
import os
import sys

EXTS = (".scala", ".java", ".py")


def classify(path):
    code = comment = blank = 0
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            s = line.strip()
            if not s:
                blank += 1
            elif s.startswith(("/**", "*", "//")):
                comment += 1
            else:
                code += 1
    return code, comment, blank


def files_of(args):
    for a in args:
        if os.path.isdir(a):
            for root, dirs, names in os.walk(a):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(EXTS):
                        yield os.path.join(root, n)
        else:
            yield a


def main(argv):
    if not argv:
        sys.exit(__doc__.strip())
    total = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for p in files_of(argv):
        row = classify(p)
        total = [t + r for t, r in zip(total, row)]
        print(f"{row[0]:>7} {row[1]:>7} {row[2]:>7}  {p}")
    print(f"{total[0]:>7} {total[1]:>7} {total[2]:>7}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
