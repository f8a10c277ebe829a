#!/usr/bin/env python3
"""Copied-code scan over src/main.

Usage: python3 scripts/dupscan.py [--max N] [root ...]   (default root: src/main)

Rule: every window of 6 consecutive lines of a .scala file, each line
trimmed, is a candidate when at least 5 of its lines are non-trivial
(a trivial line is blank or only brackets and punctuation). A candidate
that occurs in 2 or more places is duplicated, and every line it covers is
a duplicated line. Overlapping duplicated windows join into runs, and runs
that share a window form one cluster. Prints each cluster with its
file:line sites, then the total of duplicated lines. With --max N it exits
1 when the total is above N.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 6
MIN_NONTRIVIAL = 5
TRIVIAL = re.compile(r'^[\s{}()\[\];,.|"*/]*$')


def scala_files(roots):
    for root in roots:
        for d, _, fs in os.walk(root):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def scan(roots):
    lines = {}
    sites = defaultdict(list)  # window text -> [(file, start index)]
    for path in sorted(scala_files(roots)):
        with open(path, encoding="utf-8") as fh:
            ls = [l.strip() for l in fh]
        lines[path] = ls
        for i in range(len(ls) - WINDOW + 1):
            w = tuple(ls[i:i + WINDOW])
            if sum(1 for l in w if not TRIVIAL.match(l)) >= MIN_NONTRIVIAL:
                sites[w].append((path, i))
    dup = {w: s for w, s in sites.items() if len(s) >= 2}

    # runs: maximal spans of lines covered by duplicated windows, per file
    covered = defaultdict(set)
    for s in dup.values():
        for path, i in s:
            covered[path].update(range(i, i + WINDOW))
    run_of = {}  # (file, line) -> run id
    runs = []
    for path in sorted(covered):
        prev = None
        for ln in sorted(covered[path]):
            if prev is None or ln != prev + 1:
                runs.append([path, ln, ln])
            runs[-1][2] = ln
            run_of[(path, ln)] = len(runs) - 1
            prev = ln

    # clusters: runs joined by a shared duplicated window
    parent = list(range(len(runs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s in dup.values():
        ids = [run_of[(p, i)] for p, i in s]
        for r in ids[1:]:
            parent[find(r)] = find(ids[0])
    clusters = defaultdict(list)
    for r in range(len(runs)):
        clusters[find(r)].append(runs[r])
    total = sum(len(v) for v in covered.values())
    return sorted(clusters.values(),
                  key=lambda rs: -sum(e - b + 1 for _, b, e in rs)), total


def main(argv):
    limit = None
    if "--max" in argv:
        k = argv.index("--max")
        limit = int(argv[k + 1])
        argv = argv[:k] + argv[k + 2:]
    roots = argv or ["src/main"]
    clusters, total = scan(roots)
    for n, rs in enumerate(clusters, 1):
        size = sum(e - b + 1 for _, b, e in rs)
        print(f"cluster {n}: {size} lines in {len(rs)} runs")
        for path, b, e in rs:
            print(f"  {path}:{b + 1}-{e + 1} ({e - b + 1})")
    print(f"\n{total} duplicated lines in {len(clusters)} clusters")
    if limit is not None and total > limit:
        print(f"FAIL: {total} duplicated lines, above the limit of {limit}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
