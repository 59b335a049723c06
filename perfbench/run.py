#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout builds the
program and the benchmark from source with sbt (perfbench/build.sbt
depends on the root build); later runs start the JVM directly from the
recorded classpath. The JVM prints `# ` detail lines and one JSON result
line, which this script prints last. Exit code 0 only when that line was
printed and every output check passed.
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
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("analyst_sql", "pipeline_batch")
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = [p for p in roots if os.path.isfile(p)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources at {need}: run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    want = source_hash()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(want)
    print(f"# built in {time.time() - t0:.1f} s", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", ROOT]
    log_path = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{a.workload} timed out after {RUN_LIMIT_S} s (log: {log_path})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if p.returncode != 0 or result is None:
        fail(f"{a.workload} exited {p.returncode} without a result (log: {log_path})")
    parsed = json.loads(result)
    print(result, flush=True)
    sys.exit(0 if parsed["correct"] else 1)


if __name__ == "__main__":
    main()
