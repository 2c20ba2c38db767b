#!/usr/bin/env python3
"""Compare the join strategies of two sets of registry plan dumps.

Usage: tools/join_strategies.py [--shape] <dumpDirA> <dumpDirB>

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

With --shape, the script instead compares each row's full ordered list of
`(<id>) <Operator>` headers — the "plan shape unchanged" gate for a
refactor. It prints every row whose list differs, with the first differing
operators, and exits 1 when any row differs or is dumped on one side only.
"""
import collections
import difflib
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


def shape(path):
    """Ordered operator headers of one dump's formatted (initial) plan."""
    ops = []
    with open(path) as f:
        for line in f:
            if line.startswith(FINAL):
                break
            m = HEADER.match(line)
            if m:
                ops.append(m.group(1))
    return ops


def load(d, read=counts):
    """{row: read(dump)} for every `<row>_<suffix>.txt` in `d`."""
    return {f[:-len(".txt")].rsplit("_", 1)[0]: read(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".txt") and "_" in f}


def compare_shapes(a, b):
    """Rows whose ordered operator lists differ; 1 if any, else 0."""
    differ = []
    for row in sorted(a.keys() | b.keys()):
        if row not in a or row not in b:
            print(f"{row}: only in {'A' if row in a else 'B'}")
            differ.append(row)
        elif a[row] != b[row]:
            sm = difflib.SequenceMatcher(a=a[row], b=b[row], autojunk=False)
            edits = [f"{tag} {a[row][i1:i2]} -> {b[row][j1:j2]}"
                     for tag, i1, i2, j1, j2 in sm.get_opcodes() if tag != "equal"]
            print(f"{row}: {len(a[row])} -> {len(b[row])} operators; "
                  + "; ".join(edits[:3]))
            differ.append(row)
    print(f"{len(a.keys() & b.keys())} rows in both; "
          f"{len(differ)} differ in plan shape")
    return 1 if differ else 0


def main(argv):
    if len(argv) == 4 and argv[1] == "--shape":
        return compare_shapes(load(argv[2], shape), load(argv[3], shape))
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
