#!/usr/bin/env python3
"""Checks that the self times of each op's spans add up to the op's span.

  python3 citybench/test_trace.py

The synthetic cases always run. Traces that earlier traced runs left in
.bench_build/citybench/trace-<workload>.json are checked too: for every op
(a closed-loop op or a micro-batch) the self times of its span tree must
add up to the op's duration within the allowance below, which covers
Spark's millisecond event times and the reported-phase layout of
micro-batches.
"""
import glob
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import trace_summary  # noqa: E402

OP_NAMES = ("op", "stream.batch")
SLACK_MS = 5.0
SLACK_SHARE = 0.05


def span(key, name, start, end, parent="", op=""):
    return {"key": key, "name": name, "start": start, "end": end, "parent": parent, "op": op}


def op_gaps(spans):
    """(op key, duration, sum of self times over its span tree) per op."""
    own = trace_summary.self_times(spans)
    roots, kids = trace_summary.trees(spans)
    out = []
    for root in roots:
        if root["name"] in OP_NAMES:
            total = sum(own[s["key"]] for s, _ in trace_summary.subtree(root, kids))
            out.append((root["key"], root["end"] - root["start"], total))
    return out


class SyntheticTrace(unittest.TestCase):
    def test_nested_spans_add_up(self):
        spans = [
            span("s1", "op", 0, 100, op="0"),
            span("s2", "batch.run", 10, 60, "s1", "0"),
            span("j1", "spark.job", 20, 50, "s2"),
            span("g1", "spark.stage", 20, 40, "j1"),
            span("g2", "spark.stage", 30, 50, "j1"),
            span("s3", "batch.report", 70, 90, "s1", "0"),
        ]
        own = trace_summary.self_times(spans)
        self.assertAlmostEqual(own["s1"], 30)
        self.assertAlmostEqual(own["s2"], 20)
        self.assertAlmostEqual(own["j1"], 0)
        # the overlap of the two parallel stages is split between them
        self.assertAlmostEqual(own["g1"] + own["g2"], 30)
        [(_, dur, total)] = op_gaps(spans)
        self.assertAlmostEqual(total, dur)

    def test_child_outside_its_op_shows(self):
        spans = [span("s1", "op", 0, 100, op="0"), span("j1", "spark.job", 90, 130, "s1")]
        [(_, dur, total)] = op_gaps(spans)
        self.assertAlmostEqual(total - dur, 30)

    def test_orphans_are_roots(self):
        roots, _ = trace_summary.trees([span("j1", "spark.job", 0, 1, "b7")])
        self.assertEqual([s["key"] for s in roots], ["j1"])


class RecordedTraces(unittest.TestCase):
    def test_self_times_add_up_to_each_op(self):
        files = glob.glob(os.path.join(os.path.dirname(HERE), ".bench_build", "citybench", "trace-*.json"))
        if not files:
            self.skipTest("no recorded traces; run citybench/run.py with --trace 1 first")
        for path in files:
            gaps = op_gaps(trace_summary.load(path))
            self.assertTrue(gaps, f"{path}: no op spans")
            for key, dur, total in gaps:
                with self.subTest(trace=os.path.basename(path), op=key):
                    self.assertLessEqual(abs(total - dur), max(SLACK_MS, SLACK_SHARE * dur),
                                         f"self times {total:.1f} ms vs op span {dur:.1f} ms")


if __name__ == "__main__":
    unittest.main()
