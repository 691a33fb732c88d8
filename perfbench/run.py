#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload run_staged --seed 0 --seconds 30 --trace 0

Builds the program and the harness (perfbench/build.py), then runs one
workload in one JVM (graft.perfbench.Main): it generates the seeded input
from perfbench/fixture, times the workload, checks every result and prints
one JSON object as the last line of stdout. `--trace 1` prints the
per-layer metrics instead and writes the spans to
.bench_build/traces/<workload>-seed<n>.jsonl. Results are checked against
perfbench/expected.tsv (perfbench/record.py writes it). Everything the run writes stays under .bench_build/ and is removed at exit,
except the build and the traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("run_staged", "query_warm")
JVM_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def jvm_command(classes, work, main_class, args):
    """The JVM that runs `main_class` over `classes` (the harness and the
    program, from build.build) with its temp dir in `work`."""
    return [build.java()] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # C1 only, compiling after 1/20 of the usual invocation counts: the
        # warm-up rep then leaves every hot method compiled, and the timed
        # reps are flat. (C2 reps kept speeding up for six reps; with the
        # default thresholds, C1's first timed rep was still 25 % slow.)
        # C1 alone gets a 48 MB code cache, which a long query series fills
        # (the JIT then stops): give it 128 MB. (From 240 MB up the JVM
        # segments the cache, and the query pass ran twice as slow.)
        # No perf-data file: the JVM would write it to the system temp dir.
        "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.05",
        "-XX:ReservedCodeCacheSize=128m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
        main_class] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the cleanup below, which stops the compiler
    # or the JVM before exiting
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    classes = build.build(root)
    work = os.path.join(root, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(root, ".bench_build", "traces",
                              f"{args.workload}-seed{args.seed}.jsonl")
    cmd = jvm_command(classes, work, "graft.perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--fixture", os.path.join(HERE, "fixture"), "--work", work,
        "--trace-file", trace_file, "--expected", os.path.join(HERE, "expected.tsv"),
        "--launched-ms", repr(time.time() * 1000)])

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit(f"perfbench: {args.workload} exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines) + "\n")
        raise SystemExit(f"perfbench: no result from {args.workload} (exit {proc.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
