#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the engine
and the benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Everything the run writes stays under
.bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("osrs_refresh", "index_maintenance")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and return (classpath, jvm options)."""
    launch = os.path.join(BENCH, "target", "launch")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    fresh = os.path.isfile(stamp) and open(stamp).read() == digest
    if not fresh:
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                    "-Dsbt.override.build.repos=true", "-Xmx3g"]).strip()
        os.makedirs(BUILD, exist_ok=True)
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            fail(f"build failed (exit {rc}); see .bench_build/perfbench/build.log")
        with open(stamp, "w") as fh:
            fh.write(digest)
    with open(os.path.join(launch, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(launch, "jvm_options.txt")) as fh:
        options = [l.strip() for l in fh if l.strip() and not l.startswith("-Xmx")]
    return classpath, options


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "OsrsPipeline.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found; run from the repository root")

    classpath, options = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] + options +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", BUILD, "--cores", str(cores)])
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line (exit {proc.returncode})")
    if set(result) != RESULT_KEYS:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
