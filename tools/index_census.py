#!/usr/bin/env python3
"""Print the on-disk layout of every index table under a directory.

Usage: python3 tools/index_census.py DIR

A table is a directory holding a `_SUCCESS` marker (a committed parquet
write); DIR may be one index (its tables are its subdirectories) or any
directory above several. One line per table, sorted by path, so that two
censuses diff cleanly:

  <table path relative to DIR>  files=<data files>  bytes=<their bytes>
      dirs=<key=value dirs, 0 for a flat table>
      max_files_per_dir=<largest data-file count in one dir>

Data files are what Spark reads: regular files not named `_*` or `.*`,
under directories not named `.*`, nor `_*` without `=` (a writer's
`_temporary`). A flat table counts as one dir. Staging left by a crashed
pass (`<table>__forgetting`, `<table>__forgetting_dirs`) is a table of its
own and shows as such.
"""
import os
import sys


def skipped_dir(name):
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_file(name):
    return not name.startswith("_") and not name.startswith(".")


def census(table):
    """(files, bytes, partition dirs, max files in one dir) of one table."""
    per_dir = {}
    for root, dirs, files in os.walk(table):
        dirs[:] = sorted(d for d in dirs if not skipped_dir(d))
        data = [f for f in files if data_file(f)]
        if data:
            per_dir[root] = (len(data), sum(os.path.getsize(os.path.join(root, f)) for f in data))
    n_files = sum(n for n, _ in per_dir.values())
    n_bytes = sum(b for _, b in per_dir.values())
    part_dirs = sum(1 for d in per_dir if "=" in os.path.basename(d))
    widest = max((n for n, _ in per_dir.values()), default=0)
    return n_files, n_bytes, part_dirs, widest


def tables(top):
    for root, dirs, files in os.walk(top):
        dirs.sort()
        if "_SUCCESS" in files:
            dirs[:] = []  # a table's own key=value dirs are not tables
            yield root


def main(top):
    if not os.path.isdir(top):
        sys.exit(f"index_census: {top} is not a directory")
    found = False
    for t in tables(top):
        found = True
        files, size, part_dirs, widest = census(t)
        rel = os.path.relpath(t, top)
        print(f"{rel}  files={files}  bytes={size}  dirs={part_dirs}  max_files_per_dir={widest}")
    if not found:
        print(f"index_census: no committed table (no _SUCCESS) under {top}", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
