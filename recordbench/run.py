#!/usr/bin/env python3
"""Benchmark of record: build the program with the benchmark, run one workload.

Usage, from the root of a checkout:

    python3 recordbench/run.py --workload etl_scan|serve \
        --seed N --seconds S --trace 0|1

The first call in a checkout compiles the program's main sources together
with the benchmark (sbt, offline) into `.bench_build/`; later calls reuse the
build while no source file changed. Each run then starts one JVM with a fixed
heap on at most 4 local cores, in a fresh work directory under `.bench_build/`
that is deleted afterwards. The last line of standard output is the result
object; the line before it holds the seed, input sizes and sample counts.
With `--trace 1` the run's spans are also kept in `.bench_build/traces/`.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "recordbench")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build")


def fail(msg):
    print(f"recordbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    for base in (PROGRAM, os.path.join(BENCH, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, "rb") as f:
            return b"\n".join(f.read().splitlines()[-n:]).decode("utf-8", "replace")
    except OSError:
        return ""


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    os.makedirs(OUT, exist_ok=True)
    stamp_path = os.path.join(OUT, "build.stamp")
    cp_path = os.path.join(OUT, "classpath.txt")
    want = stamp()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == want:
                with open(cp_path) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(OUT, "build.log")
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       BENCH, env, log, BUILD_TIMEOUT_S)
    if code != 0:
        fail(f"build failed ({'timeout' if code is None else code}):\n{tail(log)}")
    with open(log, encoding="utf-8", errors="replace") as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l
                 and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath:\n{tail(log)}")
    with open(cp_path, "w") as f:
        f.write(lines[-1])
    with open(stamp_path, "w") as f:
        f.write(want)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_scan", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail("run from the root of a checkout of the program: src/main/scala/graft is missing")
    if shutil.which("sbt") is None or not os.environ.get("SPARK_HOME"):
        fail("needs sbt on PATH and SPARK_HOME naming a Spark 4 install")

    cp = build()
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.txt")
    spans = os.path.join(work, "spans.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "recordbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--spans", spans]
    log = os.path.join(OUT, "runs", f"{os.path.basename(work)}.log")
    t0 = time.monotonic()
    code = run_bounded(cmd, ROOT, dict(os.environ), log, RUN_TIMEOUT_S)
    try:
        if code != 0 or not os.path.exists(out):
            fail(f"run failed ({'timeout' if code is None else code}) "
                 f"after {time.monotonic() - t0:.0f}s:\n{tail(log)}")
        if a.trace == 1 and os.path.exists(spans):
            traces = os.path.join(OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        with open(out) as f:
            lines = f.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.remove(log)
    print(lines[0])
    print(lines[1])


if __name__ == "__main__":
    main()
