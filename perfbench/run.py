#!/usr/bin/env python3
"""Benchmark command: builds the program and its harness from source, runs
one workload in one JVM, and prints one JSON result as the last line of
standard output.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 12 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs with listeners and
spans on and prints the per-layer metrics instead (spans are written to
.bench_build/trace-<workload>-<seed>.jsonl). The exit code is nonzero when
any op failed or produced a wrong output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["etl_batch", "rest_enrich"]
DATA = os.path.join(BENCH, "data", "sf0.01")
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    log("building program and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   check=True, timeout=840)
    shutil.copyfile(os.path.join(BENCH, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no program source here ({need} missing); nothing to benchmark")
            return 2

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        # TCP_NODELAY on the loopback fixture server (see FixtureServer.scala)
        "-Dsun.net.httpserver.nodelay=true",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--cores", str(cores), "--data", DATA,
        "--expected", os.path.join(BENCH, "expected.json"),
        "--work", work, "--out", out,
        "--trace-out", os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.jsonl"),
    ]
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"harness did not finish within {RUN_TIMEOUT_S} s")
            return 3
        if rc != 0 or not os.path.exists(out):
            log(f"harness exited with code {rc} and no result")
            return 3
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
