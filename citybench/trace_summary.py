#!/usr/bin/env python3
"""Per-layer self time and counts from a traced citybench run.

Usage: python3 citybench/trace_summary.py .bench_build/citybench/trace-<workload>.json

A span's self time is the part of its interval not covered by its child
spans. Where children overlap (parallel stages), each instant goes to the
deepest spans open at that instant, split evenly among them, so the self
times of an op's spans add up to the time its span tree covers.
"""
import collections
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)["spans"]


def trees(spans):
    """Root spans and the children of each span key. A span whose parent
    was not recorded counts as a root."""
    keys = {s["key"] for s in spans}
    kids = collections.defaultdict(list)
    roots = []
    for s in spans:
        if s["parent"] in keys:
            kids[s["parent"]].append(s)
        else:
            roots.append(s)
    return roots, kids


def subtree(root, kids):
    out, todo = [], [(root, 0)]
    while todo:
        s, d = todo.pop()
        out.append((s, d))
        todo.extend((c, d + 1) for c in kids[s["key"]])
    return out


def self_times(spans):
    """Self time in ms of every span key, by exclusive attribution."""
    roots, kids = trees(spans)
    own = collections.defaultdict(float)
    for root in roots:
        members = subtree(root, kids)
        cuts = sorted({t for s, _ in members for t in (s["start"], s["end"])})
        for a, b in zip(cuts, cuts[1:]):
            open_ = [(s, d) for s, d in members if s["start"] <= a and s["end"] >= b]
            if not open_:
                continue
            deepest = max(d for _, d in open_)
            top = [s for s, d in open_ if d == deepest]
            for s in top:
                own[s["key"]] += (b - a) / len(top)
    return own


def summary(spans):
    """Per span name: count, total span time, total self time (ms)."""
    own = self_times(spans)
    rows = collections.OrderedDict()
    for s in sorted(spans, key=lambda s: s["name"]):
        r = rows.setdefault(s["name"], [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s["end"] - s["start"]
        r[2] += own[s["key"]]
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spans = load(argv[1])
    rows = summary(spans)
    total = sum(r[2] for r in rows.values()) or 1.0
    print(f"{'layer':28} {'count':>7} {'span_ms':>11} {'self_ms':>11} {'self_%':>7}")
    for name, (n, dur, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:28} {n:7d} {dur:11.1f} {own:11.1f} {100 * own / total:7.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
