#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):
    python3 graftbench/run.py --workload <serve|disk> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), runs one workload in a
fresh JVM, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when the build
fails, a correctness check fails, or the engine sources are missing.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "graftbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
OUT = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    stamp = os.path.join(OUT, "classpath")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old, cp = f.read().split("\n", 1)
        if old == digest:
            return cp.strip()
    os.makedirs(OUT, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("graftbench: build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "disk"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH):
        raise SystemExit("graftbench: run from the repository root; engine "
                         "sources (src/main/scala/graft) not found")
    cp = classpath()
    work = os.path.join(OUT, "work", str(os.getpid()))
    spans = os.path.join(OUT, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # JIT thresholds at 0.3 of the default: the hot paths reach C2 within
    # the set-up passes and warm-up, not during the timed phase
    cmd = ["java", "-XX:CompileThresholdScaling=0.3", "-Xms2g", "-Xmx2g",
           "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8", "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--spans", spans]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, encoding="utf-8")
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("graftbench: run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if proc.returncode != 0 or not result:
        if result:
            sys.stderr.write(result[-1] + "\n")
        raise SystemExit(proc.returncode or 1)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
