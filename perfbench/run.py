#!/usr/bin/env python3
"""Run one seeded benchmark workload and print its result line last.

    python3 perfbench/run.py --workload fhir_ingest --seed 1 --seconds 10 --trace 0

Builds the benchmark (and the library it measures) with sbt the first
time, or when a source file is newer than the build, then runs it in
one JVM. Everything it writes stays under perfbench/target.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
WORKLOADS = ("fhir_etl", "dedup_search")
# A fixed heap, so the resident set does not depend on when the
# collector chose to grow it; compiler threads that never exit, so their
# CPU time can be told apart from the program's.
JVM = ["-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads"]
TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.exists(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source():
        return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false", "compile", "writeLaunch"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return False
    return done.returncode == 0 and os.path.exists(LAUNCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not build():
        print("perfbench: build failed", file=sys.stderr)
        return 1
    with open(LAUNCH) as f:
        launch = f.read().splitlines()

    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM + [f"-Djava.io.tmpdir={tmp}"] + launch +
           ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work])
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
