#!/usr/bin/env python3
"""Runs one workload of graft's benchmark and prints its result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload asset_io --seed 1 --seconds 30 --trace 0

The first run builds graft and the benchmark from source with sbt into
`.bench_build/`; later runs reuse the build while the sources are unchanged.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only when
a result line was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "sbt", "launch.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("asset_io", "store_refresh")
# What the build reads: the library's sources and build, and the benchmark's.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"]
    try:
        done = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if done.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {done.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    # The benchmark builds graft from the checkout's own sources.
    missing = [r for r in SOURCES if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        fail("not a graft checkout, missing " + ", ".join(missing))
    build()

    with open(LAUNCH) as fh:
        jvm = [line.rstrip("\n") for line in fh if line.strip()]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + jvm + [f"-Djava.io.tmpdir={tmp}",
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", os.path.join(HERE, "data"), "--work", work,
        "--trace-out", os.path.join(BUILD, "traces", tag + ".jsonl")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if proc.returncode != 0 or not ok:
        print("\n".join(lines), file=sys.stderr)
        fail(f"no result line (exit {proc.returncode})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
