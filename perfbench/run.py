#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload pcap_kpi --seed 1 --seconds 10 --trace 0

The first run builds the engine sources (src/main) together with the harness
(perfbench/src) with sbt; later runs reuse the build while the sources are
unchanged. One JVM then runs the workload at local[N], N = min(4, CPUs):
set-up (session, seeded inputs, warm-up), then checked iterations for
--seconds. The last stdout line is the result JSON: end-to-end metrics with
--trace 0, per-layer metrics (from a traced run) with --trace 1. Build
products, scratch data and span logs go to .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JAVA_OPTS = [
    "-Xmx3g",
    "-XX:+UseG1GC",
    # Thousands of generated classes per session: give the JIT code cache
    # room (as in the root build) so hot generated loops stay compiled.
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false",
] + [
    # Spark on JDK 17 outside spark-submit needs these opens (as in the root build).
    arg
    for pkg in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            if s.read().strip() == fp:
                return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           # sbt's own state stays inside the checkout too.
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.boot.directory=" + os.path.join(BUILD, "sbt-boot"),
           "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy"),
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                 stderr=log, stdin=subprocess.DEVNULL, text=True,
                                 timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 1)
        log.write(out.stdout)
    lines = [ln.strip() for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})", 1)
    with open(cp_file, "w") as c:
        c.write(lines[-1])
    with open(stamp, "w") as s:
        s.write(fp)
    return lines[-1]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; "
             "run from the root of a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; expected one of {names}")
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]

    cp = build()
    launch_us = time.time_ns() // 1000
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = (["java"] + JAVA_OPTS +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--trace-dir", os.path.join(BUILD, "traces"),
            "--cores", str(cores()), "--launch-us", str(launch_us)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{a.workload} exceeded {RUN_TIMEOUT_S} s (log: {log_path})", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} exited with {proc.returncode} (log: {log_path})", 1)
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in wanted}
    if got != want:
        fail(f"metrics do not match BENCHMARK.json: got {sorted(got.items())}, "
             f"want {sorted(want.items())}", 1)
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
