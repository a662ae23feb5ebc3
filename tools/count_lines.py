#!/usr/bin/env python3
"""Line counts of the Scala sources under a root, per directory plus a total.

Prints two figures per directory (its own .scala files, not subdirectories):
`wc -l` lines and non-comment lines, i.e. non-blank lines that do not start
with `//`, `/*` or `*` after leading whitespace.

Usage: python3 tools/count_lines.py [ROOT]   (default: src/main/scala)
"""
import os
import sys


def counts(path):
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    wc = sum(l.endswith("\n") for l in lines)  # what `wc -l` counts
    code = [l.strip() for l in lines]
    return wc, sum(1 for l in code if l and not l.startswith(("//", "/*", "*")))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main/scala"
    rows, total = [], [0, 0]
    for d, _, files in sorted(os.walk(root)):
        got = [counts(os.path.join(d, f)) for f in sorted(files) if f.endswith(".scala")]
        if got:
            wc, nc = sum(g[0] for g in got), sum(g[1] for g in got)
            rows.append((os.path.relpath(d, root), wc, nc))
            total = [total[0] + wc, total[1] + nc]
    print(f"{'directory':<40} {'wc -l':>7} {'non-comment':>12}")
    for name, wc, nc in rows:
        print(f"{name:<40} {wc:>7} {nc:>12}")
    print(f"{'total':<40} {total[0]:>7} {total[1]:>12}")


if __name__ == "__main__":
    main()
