#!/usr/bin/env python3
"""Runs one benchmark workload against the repository it is checked out in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the program and
the benchmark from source with sbt (offline) into perfbench/target and
records the runtime classpath under .bench_build; later runs reuse it while
no source file changed. The last line of standard output is the JSON result.
Exits nonzero when the build, a run or a correctness check fails.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files.extend(os.path.join(dirpath, n) for n in sorted(names)
                         if n.endswith((".scala", ".java", ".sbt", ".properties")))
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles on the first run (or after a source change); returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = fingerprint()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    log("perfbench: building with sbt ...")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        log("perfbench: build failed")
        sys.exit(2)
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("perfbench: built in %.0f s" % (time.time() - t0))
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("perfbench: the repository's sources (src/main/scala/graft) are missing")
        sys.exit(2)
    cp = build()

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: the JVM then touches all of it, so peak RSS does not
    # depend on when the collector chose to grow the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work-dir", os.path.join(BUILD, "work")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
        sys.exit(3)
    lines = [l for l in out.splitlines() if l.strip()]
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines[:-1] if result else lines:
        log(l)
    if result is None:
        log("perfbench: no result line (exit %d)" % proc.returncode)
        sys.exit(proc.returncode or 1)
    print(result, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
