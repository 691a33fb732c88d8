#!/usr/bin/env python3
"""Rewrites perfbench/expected.tsv, the rows and content hash the benchmark
expects of every staged table and query result, for each input a seed can
pick. Run from the repository root after a change that alters the
program's results on purpose, and review the diff:

    python3 perfbench/record.py

One JVM (graft.perfbench.Record); about half an hour on a 4-core machine.
"""
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    classes = build.build(root)
    work = os.path.join(root, ".bench_build", f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = run.jvm_command(classes, work, "graft.perfbench.Record", [
        "--fixture", os.path.join(run.HERE, "fixture"), "--work", work,
        "--out", os.path.join(run.HERE, "expected.tsv")])
    proc = subprocess.Popen(cmd, cwd=work)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"perfbench: recording failed (exit {code})")


if __name__ == "__main__":
    main()
