#!/usr/bin/env python3
"""Paired A/B runs of the pipeline benchmark between two checkouts.

  python3 tools/ab_pairs.py PARENT CHANGE --seeds 10 --workloads lake_batch,vision
  python3 tools/ab_pairs.py TREE --aa --seeds 10 --workloads lake_batch

Each pair runs `python3 citybench/run.py` once in each checkout, for the
same workload and seed, alternating which side goes first. Every
checkout builds its own `.bench_build`, so a pair compares two builds as
well as two trees. `--aa` copies one tree twice (build outputs left out)
and pairs the copies: the A/A control that shows how far two builds of
the same code time apart.

Prints, per workload and metric, each side's median and quartiles, the
change's median delta and how many pairs the change (B) won, and whether
the gap is wider than A's quartile spread. Metric directions come from
A's BENCHMARK.json. `--out` keeps every run's raw result line.
This script only calls citybench; it changes nothing under it.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

BUILD_OUTPUTS = (".git", ".bench_build", "target", "project/target", "project/project",
                 "spark-warehouse", "metastore_db", "__pycache__")


def copy_tree(src, dst):
    """A copy of `src` without its build outputs, so it builds afresh."""
    def ignore(d, names):
        rel = os.path.relpath(d, src)
        return [n for n in names if os.path.normpath(os.path.join(rel, n)) in BUILD_OUTPUTS]
    shutil.copytree(src, dst, ignore=ignore, symlinks=True)
    return dst


def run_once(tree, workload, seed, seconds, trace):
    """One benchmark run; returns (metrics, report) or (None, error text)."""
    cmd = [sys.executable, "citybench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or len(lines) < 2:
        return None, (r.stderr or r.stdout)[-2000:]
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    report["correct"] = result["correct"]
    return metrics, report


def directions(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def cell(median, q1, q3):
    return f"{median:.4g} [{q1:.4g}, {q3:.4g}]"


def summarize(workload, pairs, better):
    print(f"\n== {workload}: {len(pairs)} pairs")
    for side in ("a", "b"):
        bad = [p["seed"] for p in pairs if not (p[side + "_report"]["valid"] and p[side + "_report"]["correct"])]
        if bad:
            print(f"   side {side.upper()}: invalid or failed-check runs at seeds {bad}")
    print(f"   {'metric':<32}{'A median [q1, q3]':>30}{'B median [q1, q3]':>30}{'delta':>9}"
          f"{'B wins':>8}  gap > A IQR")
    for m in sorted(pairs[0]["a"]):
        a = [p["a"][m] for p in pairs]
        b = [p["b"][m] for p in pairs]
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        lower = better.get(m, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        delta = (b2 - a2) / a2 * 100 if a2 else 0.0
        spread = "yes" if abs(b2 - a2) > a3 - a1 else "no"
        print(f"   {m:<32}{cell(a2, a1, a3):>30}{cell(b2, b1, b3):>30}{delta:>+8.1f}%"
              f"{wins:>5}/{len(pairs):<2}  {spread}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trees", nargs="+", help="A and B checkouts, or one tree with --aa")
    ap.add_argument("--aa", action="store_true", help="pair two copies of one tree")
    ap.add_argument("--seeds", type=int, default=10, help="pairs per workload")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="lake_batch,vision")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", help="where --aa puts its two copies (default: a temp dir, removed after)")
    ap.add_argument("--out", help="write every run's metrics and report here as JSON")
    args = ap.parse_args()

    made = None
    if args.aa:
        if len(args.trees) != 1:
            ap.error("--aa takes exactly one tree")
        made = args.work or tempfile.mkdtemp(prefix="ab_pairs_")
        os.makedirs(made, exist_ok=True)
        src = os.path.abspath(args.trees[0])
        trees = [copy_tree(src, os.path.join(made, side)) for side in ("a", "b")]
    elif len(args.trees) != 2:
        ap.error("give two trees, or one tree with --aa")
    else:
        trees = [os.path.abspath(t) for t in args.trees]
    print(f"A = {trees[0]}\nB = {trees[1]}", flush=True)

    results = {}
    try:
        for workload in args.workloads.split(","):
            pairs = []
            for i in range(args.seeds):
                seed = args.first_seed + i
                order = ("a", "b") if i % 2 == 0 else ("b", "a")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    metrics, report = run_once(trees[side == "b"], workload, seed, args.seconds, args.trace)
                    if metrics is None:
                        sys.exit(f"{workload} seed {seed} side {side.upper()} failed:\n{report}")
                    pair[side], pair[side + "_report"] = metrics, report
                key = "latency_p50_ms" if "latency_p50_ms" in pair["a"] else sorted(pair["a"])[0]
                print(f"{workload} seed {seed}: A {key} {pair['a'][key]:.1f}, B {pair['b'][key]:.1f}", flush=True)
                pairs.append(pair)
            results[workload] = pairs
            if args.out:
                with open(args.out, "w") as f:
                    json.dump({"a": trees[0], "b": trees[1], "aa": args.aa, "results": results}, f, indent=1)
        better = directions(trees[0])
        for workload, pairs in results.items():
            summarize(workload, pairs, better)
    finally:
        if made and not args.work:
            shutil.rmtree(made, ignore_errors=True)


if __name__ == "__main__":
    main()
