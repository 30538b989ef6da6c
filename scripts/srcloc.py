#!/usr/bin/env python3
"""Count the code lines of src/main, per package and in total.

A code line is one that is neither blank nor starts (after leading
whitespace) with a comment marker: `//`, `/*` or `*` (the body and the
close of a scaladoc or block comment). Lines that carry code and a
trailing comment count as code.

Usage:
    python3 scripts/srcloc.py [ROOT]

ROOT defaults to `src/main` beside this script's directory. A package is
the directory of a source file relative to ROOT's `scala/` (or ROOT
itself), written with dots: `graft.sinks`, `graft.ext`.

Under the per-package table two subtotals split the total: `harness` is
the entry catalog and its fixtures (`graft.queries`, `graft.fixtures`
and their subpackages), `engine` is everything else.
"""
import os
import sys

COMMENT_MARKERS = ("//", "/*", "*")
HARNESS_PACKAGES = ("graft.queries", "graft.fixtures")
SOURCE_SUFFIXES = (".scala", ".java")


def code_lines(path):
    n = 0
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            s = line.strip()
            if s and not s.startswith(COMMENT_MARKERS):
                n += 1
    return n


def is_harness(pkg):
    return any(pkg == h or pkg.startswith(h + ".") for h in HARNESS_PACKAGES)


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    root = argv[1] if len(argv) > 1 else os.path.join(here, "..", "src", "main")
    root = os.path.normpath(root)
    if not os.path.isdir(root):
        sys.exit(f"srcloc: no directory {root}")
    base = os.path.join(root, "scala") if os.path.isdir(os.path.join(root, "scala")) else root
    per_pkg = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(SOURCE_SUFFIXES):
                continue
            rel = os.path.relpath(dirpath, base)
            pkg = "(root)" if rel == "." else rel.replace(os.sep, ".")
            per_pkg[pkg] = per_pkg.get(pkg, 0) + code_lines(os.path.join(dirpath, name))
    harness = sum(n for p, n in per_pkg.items() if is_harness(p))
    total = sum(per_pkg.values())
    width = max([len(p) for p in per_pkg] + [len("harness")])
    for pkg in sorted(per_pkg):
        print(f"{pkg:<{width}}  {per_pkg[pkg]:>7,}")
    print(f"{'total':<{width}}  {total:>7,}")
    print(f"{'engine':<{width}}  {total - harness:>7,}")
    print(f"{'harness':<{width}}  {harness:>7,}")


if __name__ == "__main__":
    main(sys.argv)
