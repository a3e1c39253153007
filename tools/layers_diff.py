#!/usr/bin/env python3
"""Compare the per-query `layers` records of two Bench JSONs.

    tools/layers_diff.py <a.json> <b.json> [--counts-equal]

Each argument is a full JSON that graft.Bench writes (its path is on
stderr as `bench: wrote ...` and in the compact line's `full_json`). For
every query either side recorded, prints each `layers` field of A and B
side by side with the ratio B/A. With --counts-equal, exits 1 when any
query's jobs, stages or tasks differ, or when a query has layers on one
side only: the execution counts of two legs of the same battery on the
same data must match, while bytes and times are reported, not gated.
"""
import argparse
import json
import sys

COUNTS = ("jobs", "stages", "tasks")


def layers(path):
    with open(path) as f:
        return json.load(f).get("layers", {})


def fmt(v):
    if v is None:
        return "-"
    return str(v) if isinstance(v, int) else "%.4g" % v


def ratio(a, b):
    if a is None or b is None:
        return "-"
    if a == 0:
        return "=" if b == 0 else "inf"
    return "%.3f" % (b / a)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--counts-equal", action="store_true",
                    help="exit 1 if any query's jobs/stages/tasks differ")
    args = ap.parse_args()
    la, lb = layers(args.a), layers(args.b)
    differ = []
    print("%-32s %-20s %14s %14s %8s" % ("query", "field", "a", "b", "b/a"))
    for q in sorted(set(la) | set(lb)):
        ra, rb = la.get(q, {}), lb.get(q, {})
        fields = list(ra) + [k for k in rb if k not in ra]
        for k in fields:
            a, b = ra.get(k), rb.get(k)
            print("%-32s %-20s %14s %14s %8s" % (q, k, fmt(a), fmt(b), ratio(a, b)))
        if not ra or not rb or any(ra.get(k) != rb.get(k) for k in COUNTS):
            differ.append(q)
    print("%d queries in a, %d in b; jobs/stages/tasks differ on %d%s" % (
        len(la), len(lb), len(differ), (": " + ", ".join(differ)) if differ else ""),
        file=sys.stderr)
    if args.counts_equal and differ:
        sys.exit(1)


if __name__ == "__main__":
    main()
