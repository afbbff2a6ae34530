#!/usr/bin/env python3
"""Pipeline benchmark: builds the library and the harness from source, runs
one workload in a fresh JVM and prints one JSON result line.

  python3 citybench/run.py --workload vision --seed 1 --seconds 16 --trace 0

Run it from the repository root. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is the
run's report: steadiness checks and the contamination stamp. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "citybench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")

WORKLOADS = ("lake_batch", "vision")
# A run past this is killed; the build before the first run is not counted.
JVM_DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "retained_heap_mb": "MiB",
}

# Per-layer metrics; a layer that a workload does not exercise reads 0.
PER_LAYER = {
    "gen.lateness_p99_ms": "ms",
    "topicstream.lag_ms": "ms",
    "topicstream.files_per_batch": "count",
    "topicstream.rows_per_batch": "count",
    "stream.batches": "count",
    "stream.latest_offset_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "lake.files_written": "count",
    "lake.partitions_written": "count",
    "lake.write_amplification": "ratio",
    "lake.files_read": "count",
    "catalog.register_ms": "ms",
    "catalog.partitions": "count",
    "batch.run_ms": "ms",
    "warehouse.write_ms": "ms",
    "batch.report_ms": "ms",
    "tracker.state_rows": "count",
    "tracker.state_bytes": "bytes",
    "tracker.update_ms": "ms",
    "tracker.commit_ms": "ms",
    "dualsink.rows_per_batch": "count",
    "dualsink.files_per_batch": "count",
    "operators.q31_ngram_jaccard_ms": "ms",
    "sql.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scheduler_delay_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "setup.session_ms": "ms",
    "setup.stage_ms": "ms",
    "setup.warmup_ms": "ms",
    "trace.overhead_ms": "ms",
    "self.op_ms": "ms",
    "self.catalog.register_ms": "ms",
    "self.batch.run_ms": "ms",
    "self.warehouse.write_ms": "ms",
    "self.batch.report_ms": "ms",
    "self.stream.batch_ms": "ms",
    "self.stream.add_batch_ms": "ms",
    "self.spark.job_ms": "ms",
    "self.spark.stage_ms": "ms",
}

# A run is invalid when its latency drifts more than this between the
# first and last quarter of the timed samples, or when fewer than
# MIN_BEYOND samples lie above the tail percentile.
MAX_DRIFT = 0.25
MIN_BEYOND = 10

# The harness JVM compiles with C1 only (-XX:TieredStopAtLevel=1). With
# C2, Spark's per-batch planning and commit code keeps getting faster for
# minutes of micro-batches; a 20 s window after 22 s of warm-up still
# drifted by a third. C1 code settles within a few batches. C1 alone gets
# a 48 MB code cache by default; `lake_batch` filled it, and the flushing
# and recompiling that followed slowed every op after about the 20th.
# Spark gets two cores and the JVM the serial collector, so the run keeps
# fewer threads busy than the machine has cores and a core lost to a
# neighbour stalls less of it.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"citybench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def classpath(jar):
    """The harness jar and Spark's jars, listed one by one: a class-data
    archive only maps into a JVM whose class path matches the one it was
    dumped with."""
    spark = sorted(os.path.join(SPARK_JARS, f) for f in os.listdir(SPARK_JARS) if f.endswith(".jar"))
    return os.pathsep.join([jar] + spark)


def jvm_cmd(jar, extra, args):
    return (["java", "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m", "-XX:+UseSerialGC",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
            + extra + ["-Dspark.ui.enabled=false"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath(jar), "citybench.Main"] + args)


def train(jar, archive):
    """Runs `vision` and `lake_batch` once at token size in a JVM that
    dumps the classes it loaded into a class-data archive. A run that maps
    the archive starts its session and first batches 4-5 s sooner."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_cmd(jar, [f"-XX:ArchiveClassesAtExit={archive}", f"-Djava.io.tmpdir={work}/tmp"],
                  ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0",
                   "--work", work, "--out", os.path.join(work, "none"), "--cores", str(cores())])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=work, timeout=JVM_DEADLINE_S)
        if r.returncode != 0 or not os.path.exists(archive):
            sys.stderr.write(r.stdout[-4000:])
            fail("training run for the class-data archive failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build():
    """Compiles the library and the harness with the Scala compiler that
    ships with Spark, packs them into one jar and dumps the class-data
    archive; reuses all three while no source changed."""
    program, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    if not program:
        fail(f"no library sources under {os.path.relpath(PROGRAM_SRC, ROOT)}; run from a full checkout")
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        fail("SPARK_HOME must point at a Spark install whose jars include Scala 2.13.17")
    digest = hashlib.sha256()
    for p in program + bench:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD, "build.sha256")
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "citybench.jar")
    archive = os.path.join(BUILD, "citybench.jsa")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return jar, archive
    for p in (stamp, jar, archive):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", classes] + program + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    t1 = time.time()
    train(jar, archive)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    print(f"citybench: compiled in {t1 - t0:.1f} s, class-data archive in {time.time() - t1:.1f} s",
          file=sys.stderr)
    return jar, archive


def canary_ms():
    """Fixed CPU work, timed; a slower canary marks a contended machine."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200000):
            acc += i * i % 7
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before, after):
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8]) or 1
    return 100.0 * delta[7] / total if len(delta) > 7 else 0.0


def cores():
    """Spark's local[N]: the inputs are small, and more task threads only
    add to what the host's scheduler decides."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def run_jvm(args, jar, archive, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = jvm_cmd(jar, [f"-XX:SharedArchiveFile={archive}", f"-Djava.io.tmpdir={tmp}"],
                  ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--work", work, "--out", out, "--cores", str(cores())])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("timed out" if code is None else f"harness exited with {code}")


def self_metrics(spans):
    """Mean self time per op of the layers named in PER_LAYER."""
    sys.path.insert(0, HERE)
    import trace_summary
    rows = trace_summary.summary(spans)
    roots, _ = trace_summary.trees(spans)
    ops = len([s for s in roots if s["name"] in ("op", "stream.batch")]) or 1
    return {f"self.{name}_ms": rows[name][2] / ops if name in rows else 0.0
            for name in (k[len("self."):-len("_ms")] for k in PER_LAYER if k.startswith("self."))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    jar, archive = build()
    os.makedirs(BUILD, exist_ok=True)
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        canary0, cpu0 = canary_ms(), cpu_times()
        run_jvm(args, jar, archive, work, out)
        cpu1, canary1 = cpu_times(), canary_ms()
        with open(out) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = r["timed"]
    invalid = []
    if not args.trace:  # a traced run's windows are half as long and give per-layer numbers only
        if abs(timed["drift"]) > MAX_DRIFT:
            invalid.append(f"latency drift {timed['drift']:+.3f} exceeds {MAX_DRIFT}")
        if timed["beyond_tail"] < MIN_BEYOND:
            invalid.append(f"{timed['beyond_tail']} samples beyond p{100 * timed['tail_pct']:g}, need {MIN_BEYOND}")
    if invalid:
        print(f"citybench: run invalid: {'; '.join(invalid)}", file=sys.stderr)
    if r["failed"]:
        print("citybench: output check failed:\n  " + "\n  ".join(r["failures"]), file=sys.stderr)

    if args.trace:
        layers = dict(r.get("layers", {}))
        layers.update(r["setup"])
        layers["trace.overhead_ms"] = r["traced"]["latency_p50_ms"] - timed["latency_p50_ms"]
        layers.update(self_metrics(r["spans"]))
        layers["gen.lateness_p99_ms"] = r["traced"]["lateness_p99_ms"]
        values = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        with open(os.path.join(BUILD, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": r["spans"]}, f)
    else:
        values = {
            "setup_s": r["setup_s"],
            "latency_p50_ms": timed["latency_p50_ms"],
            "latency_tail_ms": timed["latency_tail_ms"],
            "throughput_per_s": timed["throughput_per_s"],
            "retained_heap_mb": r["retained_heap_mb"],
        }
        units = END_TO_END

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "valid": not invalid, "invalid_because": invalid,
        "steadiness": {k: timed[k] for k in ("samples", "tail_pct", "beyond_tail", "drift", "trend_ms")},
        "stamp": {"canary_before_ms": canary0, "canary_after_ms": canary1,
                  "steal_pct": steal_pct(cpu0, cpu1),
                  "gen.lateness_p99_ms": timed["lateness_p99_ms"]},
        "stage_ms": r["stage_ms"],
        "phases_s": r["phases_s"],
        "failures": r["failures"],
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
