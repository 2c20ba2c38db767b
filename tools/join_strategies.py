#!/usr/bin/env python3
"""Compare the join strategies of two sets of registry plan dumps.

Usage: tools/join_strategies.py <dumpDirA> <dumpDirB>

Each directory holds `graft.ExplainDump` output, one `<row>_<suffix>.txt`
per registry row (the suffix may differ between the two directories). For
every row the script counts the physical join operators and broadcast
exchanges of the formatted plan (one `(<id>) <Operator>` header per
operator) and, from the plan tree, the broadcast hash joins that build
their left and their right input. It prints every row whose counts differ
(A -> B), and a total line. A build side that moves, at equal counts, is a
join that now broadcasts its other input.

Exit status: 1 when any row in B has more SortMergeJoin, ShuffledHashJoin or
CartesianProduct operators than in A (a join that moved to a shuffle or to a
cartesian product), 2 on a usage error, else 0. A row dumped on one side only
is listed but does not fail the run.
"""
import collections
import os
import re
import sys

OPS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "SortMergeJoin",
       "ShuffledHashJoin", "CartesianProduct", "BroadcastExchange")
SHUFFLED = ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct")
BUILDS = ("BroadcastHashJoin BuildLeft", "BroadcastHashJoin BuildRight")
HEADER = re.compile(r"^\(\d+\) (\w+)")
BUILD = re.compile(r"- BroadcastHashJoin \w+ (Build\w+) \(\d+\)$")  # tree line
FINAL = "== Final Plan (AQE, after execution) =="


def counts(path):
    """Operator counts of one dump's formatted (initial) plan."""
    c = collections.Counter()
    with open(path) as f:
        for line in f:
            if line.startswith(FINAL):  # `executed` dumps append a tree
                break
            m = HEADER.match(line)
            if m and m.group(1) in OPS:
                c[m.group(1)] += 1
            m = BUILD.search(line.rstrip())
            if m:
                c["BroadcastHashJoin " + m.group(1)] += 1
    return c


def load(d):
    """{row: counts} for every `<row>_<suffix>.txt` in `d`."""
    return {f[:-len(".txt")].rsplit("_", 1)[0]: counts(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".txt") and "_" in f}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    gained = []
    for row in sorted(a.keys() | b.keys()):
        if row not in a or row not in b:
            print(f"{row}: only in {'A' if row in a else 'B'}")
            continue
        moved = [f"{op} {a[row][op]}->{b[row][op]}" for op in OPS + BUILDS
                 if a[row][op] != b[row][op]]
        if moved:
            print(f"{row}: " + ", ".join(moved))
        if any(b[row][op] > a[row][op] for op in SHUFFLED):
            gained.append(row)
    shared = a.keys() & b.keys()
    total = {op: (sum(a[r][op] for r in shared), sum(b[r][op] for r in shared))
             for op in OPS + BUILDS}
    print(f"{len(shared)} rows in both; totals A->B: " +
          ", ".join(f"{op} {x}->{y}" for op, (x, y) in total.items()))
    if gained:
        print(f"{len(gained)} rows gain a shuffled or cartesian join: "
              + ", ".join(gained))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
