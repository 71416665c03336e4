#!/usr/bin/env python3
"""Per-span job, task and shuffle counts of perfbench trace files.

    python3 tools/trace_counts.py A.json [B.json]

A perfbench run with `--trace 1` leaves its spans, and the Spark jobs
charged to each span, in `.bench_build/perfbench/trace-<part>-seed<n>.json`.
For each span name this prints how many spans the file holds and, averaged
over those spans, the jobs charged to the span or to any of its
descendants, and those jobs' tasks and shuffle bytes (read plus written).
These counts do not move with host load the way times do, so one traced run
per side settles a count claim (a layer's jobs going from 36 to 6) without
interleaved pairs; times are left out for that reason.

Given two files (parent first), prints the two side by side as `A -> B`,
with the span names of both files in order of first appearance.
"""
import json
import sys
from collections import defaultdict


def span_counts(path):
    """{span name: (spans, mean jobs, mean tasks, mean shuffle bytes)}."""
    with open(path) as f:
        doc = json.load(f)
    spans = doc["spans"]
    parent = {s["id"]: s["parent"] for s in spans}
    totals = defaultdict(lambda: [0, 0, 0])  # span id -> jobs, tasks, bytes
    for job in doc["jobs"]:
        sid = job["span"]
        while sid in parent:  # the span itself, then each ancestor
            t = totals[sid]
            t[0] += 1
            t[1] += job["tasks"]
            t[2] += job["shuffle_bytes"]
            sid = parent[sid]
    by_name = {}
    for s in spans:  # in start order
        by_name.setdefault(s["name"], []).append(totals.get(s["id"], [0, 0, 0]))
    return {name: (len(ts),) + tuple(sum(t[i] for t in ts) / len(ts) for i in range(3))
            for name, ts in by_name.items()}


def fmt(row):
    if row is None:
        return ("-", "-", "-", "-")
    n, jobs, tasks, shuffle = row
    return (str(n), f"{jobs:.2f}", f"{tasks:.1f}", f"{shuffle:,.0f}")


def main(argv):
    if not 1 <= len(argv) <= 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    sides = [span_counts(p) for p in argv]
    names = list(dict.fromkeys(n for side in sides for n in side))
    head = ("span", "spans", "jobs", "tasks", "shuffle_bytes")
    rows = []
    for name in names:
        cells = [fmt(side.get(name)) for side in sides]
        rows.append((name,) + tuple(" -> ".join(c[i] for c in cells) for i in range(4)))
    widths = [max(len(r[i]) for r in rows + [head]) for i in range(len(head))]
    if len(argv) == 2:
        print(f"A: {argv[0]}\nB: {argv[1]}")
    for r in [head] + rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    main(sys.argv[1:])
